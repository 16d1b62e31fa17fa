"""Round-5 first-class additions.

Joins: grid-bucketed spatial radius (J10), co-located bucketed (J11),
dynamic-partition-pruned (J12). Scans: schema evolution (S7), ORC
(S8), custom Python data source (S10), malformed-record quarantine
(S11). Aggregation/windows: winsorize (A12), GROUPING SETS (A4b),
sketch percentile pairing (A3b, in relational), sequence pattern
(W7), distribution ranks (W8), interval islands (E8), correlated
EXISTS (P5). Iterative/graph algorithms, all exactly oracle-checked
via integer-grain arithmetic: k-means (L18), PageRank (G1), triangle
counting (G2). Training-data pipeline: int8 quantization (L17),
dataset card (L19), corpus-pipeline capstone (L20). UDF surface:
mapInArrow (U5).

Each carries a full DuckDB oracle. Registered FIRST: none of these
keys had an external verification row when added, so they take the
head of the driver's 50-key window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.operators import text as X
from flirt_consume_spark.io import cache_path
from flirt_consume_spark.queries.base import query, t

_HAV_SQL = """2 * 6371.0 * asin(least(1.0, sqrt(
        sin(radians(b.lat - a.lat)/2) * sin(radians(b.lat - a.lat)/2)
        + cos(radians(a.lat)) * cos(radians(b.lat))
          * sin(radians(b.lon - a.lon)/2) * sin(radians(b.lon - a.lon)/2)
      )))"""


@query(
    "join_geo",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS key,
             (c_custkey * 7) % 140 - 70 + 0.25 AS lat,
             (c_custkey * 131) % 360 - 180 + 0.25 AS lon
      FROM customer
    )
    SELECT a.key AS key_a, b.key AS key_b,
           round({_HAV_SQL}, 3) AS dist_km
    FROM pts a JOIN pts b ON a.key < b.key
    WHERE {_HAV_SQL} <= 150.0
    """,
)
def join_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: spatial radius self-join — all customer pairs within
    150 km (nearby-airport discovery in the reference's domain).
    Spark side is the GRID-BUCKETED join (operators/spatial.py): 4°
    cells, 3×3-neighborhood probe with dateline wrap, exact haversine
    verify — O(|cell|²) candidates instead of O(n²). The oracle is the
    brute-force all-pairs filter, so the hash match proves the grid
    candidate generator loses nothing."""
    from flirt_consume_spark.functions import synth_coord
    from flirt_consume_spark.operators.spatial import grid_within_radius

    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("key"),
        synth_coord(F.col("c_custkey"), 7, 140, 0.25).alias("lat"),
        synth_coord(F.col("c_custkey"), 131, 360, 0.25).alias("lon"),
    )
    # synth lat ∈ [-69.75, 69.45]: 4° cells cover 150 km down to
    # cos(70°) (needs ≥ 3.95°).
    return grid_within_radius(
        pts, "key", "lat", "lon", radius_km=150.0, cell_deg=4.0,
        max_abs_lat=70.0,
    )


@query(
    "agg_winsorize",
    oracle="""
    WITH p AS (
      SELECT o_orderstatus,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
           CAST(SUM(CAST(floor(least(greatest(o_totalprice, lo), hi) * 1e2)
                         AS BIGINT)) AS BIGINT) AS capped_cents
    FROM orders o JOIN p USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """,
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: winsorized (percentile-capped) aggregation — the robust-
    stats step that keeps a few absurd rows from dominating a mean
    (fare outliers in the reference's domain; token-count outliers in
    a training corpus). Two passes that share the groupBy key
    partitioning: exact per-group p05/p95 (tiny result), broadcast
    back, clamp, aggregate in exact integer cents. The percentiles
    come from ``operators/scale.grouped_percentiles`` (order
    statistics over grouped_rank — no per-group value-map buffer,
    the agg_percentile scale path) in Spark's two-weight
    interpolation form; DuckDB's single-weight quantile_cont can
    differ in the last ulp, so the hash match rests on the exact
    integer-cents aggregation, not a bit-identical quantile."""
    from flirt_consume_spark.operators.scale import grouped_percentiles

    orders = t(spark, sf_dir, "orders")
    pct = grouped_percentiles(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        "o_totalprice",
        [F.col("o_orderkey")],
        [0.05, 0.95],
        ["lo", "hi"],
    )
    x = F.col("o_totalprice")
    clamped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        orders.join(F.broadcast(pct), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(((x < F.col("lo")) | (x > F.col("hi"))).cast("int"))
            .cast("bigint")
            .alias("n_capped"),
            F.sum(F.floor(clamped * 1e2).cast("long"))
            .cast("bigint")
            .alias("capped_cents"),
        )
    )


@query(
    "win_pattern",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t0
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_then_clicked,
           (SELECT COUNT(*) FROM p) AS n_then_purchased
    """,
)
def win_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: multi-step ordered sequence detection (MATCH_RECOGNIZE-
    lite): users who did view → click → purchase with each step
    STRICTLY after some qualifying previous step. Exists-semantics
    ("a purchase with some earlier click that itself had some earlier
    view") is equivalent to the oracle's first-qualifying-timestamp
    chain. ONE scan and ONE shuffle: two chained strictly-earlier
    range windows (frame end -1 excludes same-µs peers) over the same
    user partitioning, then a per-user fold — no per-step self-join,
    which is the naive plan that scans the stream once per step."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (F.col("event_type") == "view").cast("int").alias("iv"),
        (F.col("event_type") == "click").cast("int").alias("ic"),
        (F.col("event_type") == "purchase").cast("int").alias("ip"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    s1 = ev.withColumn(
        "qc", F.col("ic") * F.coalesce(F.max("iv").over(w), F.lit(0))
    )
    s2 = s1.withColumn(
        "qp", F.col("ip") * F.coalesce(F.max("qc").over(w), F.lit(0))
    )
    per_user = s2.groupBy("user_id").agg(
        F.max("iv").alias("viewed"),
        F.max("qc").alias("clicked"),
        F.max("qp").alias("purchased"),
    )
    # coalesce to 0: these are COUNTS of users clearing each step
    # (oracle: COUNT(*) = 0 on an empty stream); SUM's empty-input
    # NULL would misreport "no users" as "unknown".
    return per_user.agg(
        F.coalesce(F.sum("viewed"), F.lit(0))
        .cast("bigint")
        .alias("n_viewed"),
        F.coalesce(F.sum("clicked"), F.lit(0))
        .cast("bigint")
        .alias("n_then_clicked"),
        F.coalesce(F.sum("purchased"), F.lit(0))
        .cast("bigint")
        .alias("n_then_purchased"),
    )


@query(
    "scan_evolve",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                ELSE '(pre-schema)' END AS prio,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY 1
    """,
)
def scan_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: schema-evolution scan — two parquet drops of the same feed
    where the newer one added a column (the reference's monthly
    extracts gain fields across seasons), read as ONE DataFrame via
    mergeSchema; rows from the pre-evolution drop surface NULL for the
    added column. The oracle reconstructs the same union from the
    source view, so the check proves the merged read is lossless.
    At 100 TB mergeSchema only reads footers of a file sample; per-file
    pruned scans are unaffected."""
    orders = t(spark, sf_dir, "orders")
    root = cache_path("evolve", sf_dir, "orders")
    v1, v2 = os.path.join(root, "v1"), os.path.join(root, "v2")
    if not (
        os.path.exists(os.path.join(v1, "_SUCCESS"))
        and os.path.exists(os.path.join(v2, "_SUCCESS"))
    ):
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).coalesce(2).write.mode("overwrite").parquet(v1)
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).coalesce(2).write.mode("overwrite").parquet(v2)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    # Provenance via the file-metadata column, NOT coalesce: only
    # rows from the pre-evolution drop get the sentinel. A coalesce
    # would also relabel post-evolution rows whose priority is
    # legitimately NULL (they must stay a NULL group, as the oracle's
    # CASE on the key parity does); _metadata.file_path is constant
    # metadata — no extra scan, no shuffle.
    return merged.groupBy(
        F.when(
            F.col("_metadata.file_path").contains("/v1/"),
            F.lit("(pre-schema)"),
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("prio")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("o_totalprice") * 1e2).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )


@query(
    "scan_badrecords",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS n_good,
           CAST(7 AS BIGINT) AS n_bad,
           CAST((SELECT SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT))
                 FROM orders WHERE o_orderkey % 2 = 0) AS BIGINT)
             AS good_cents
    """,
)
def scan_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: malformed-record quarantine — the PERMISSIVE ingest mode a
    real feed needs when one bad line must not kill a 100-TB load
    (FAILFAST, S2's mode, is for trusted extracts). The fixture is a
    CSV of the even-key orders plus 7 deliberately corrupt lines; the
    scan captures them in ``_corrupt_record`` instead of erroring,
    and the key reports good/bad counts + the good rows' exact cents
    — proving corrupt lines are isolated, not silently dropped or
    miscounted. The oracle recomputes from the source view + the
    fixture's known corruption count."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    orders = t(spark, sf_dir, "orders")
    root = cache_path("badcsv", sf_dir, "orders")
    marker = os.path.join(root, "_DONE")
    if not os.path.exists(marker):
        good = (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .coalesce(1)
        )
        good.write.mode("overwrite").csv(root)
        # 7 deterministic corrupt lines: wrong arity / non-numeric.
        with open(os.path.join(root, "zz_corrupt.csv"), "w") as fh:
            for i in range(7):
                fh.write(f"corrupt,line,{i},###\n")
        with open(marker, "w") as fh:
            fh.write("ok\n")
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(root + "/*.csv")
        # Correctness boundary: without it CSV column pruning parses
        # only the referenced columns, so a line corrupt only in
        # o_orderkey (unused below) would count as good. The lazy
        # localCheckpoint makes the scan parse every schema column
        # (tests/test_advanced.py pins this).
        .localCheckpoint(eager=False)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.sum((~bad).cast("long")).cast("bigint").alias("n_good"),
        F.sum(bad.cast("long")).cast("bigint").alias("n_bad"),
        F.sum(
            F.when(~bad, F.floor(F.col("o_totalprice") * 1e2).cast("long"))
        )
        .cast("bigint")
        .alias("good_cents"),
    )


def _quality_sql() -> str:
    from flirt_consume_spark.operators import text as X

    return rf"""(least(length(text) / 400.0, 1.0)
         + least(len(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN {X.EN_STOPWORDS}))
             / len(regexp_split_to_array(lower(trim(text)), '\s+')) * 4, 1.0)
         + (1 - least(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      / length(text) * 10, 1.0))
         + len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
             / len(regexp_split_to_array(lower(trim(text)), '\s+'))
        ) / 4"""


def _pipeline_oracle() -> str:
    quality = _quality_sql()
    bucket = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)"
    return rf"""
    WITH scored AS (
      SELECT doc_id, source, text,
             floor(({quality}) * 1e6) / 1e6 AS q6
      FROM documents
    ), f AS (
      SELECT * FROM scored WHERE q6 >= 0.5
    ), d AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(text) ORDER BY doc_id) AS rnd
        FROM f) WHERE rnd = 1
    ), qt AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM d) WHERE rn <= 150
    )
    SELECT source,
           CASE WHEN {bucket} < 80 THEN 'train'
                WHEN {bucket} < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+')))
                AS BIGINT) AS ws_tokens
    FROM qt GROUP BY 1, 2
    """


@query("llm_corpus_pipeline", oracle=_pipeline_oracle())
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20: the corpus-prep pipeline END TO END in one plan — quality
    filter (q >= 0.5, L4c's exact floored score) → exact dedup (keep
    min doc_id per md5(text), L1's hash) → per-source quota (md5-
    priority row_number <= 150, L16's rule) → deterministic 80/10/10
    split (L7's bucket) → per-(source, split) doc/token counts. The
    capstone proof that the stages COMPOSE: one oracle replays the
    whole chain, so any stage interaction bug (dedup reordering
    quota's priorities, quota starving a split...) breaks the hash.

    r12 rework (guide §8 "decide with small rows, move big rows
    once"): every DECISION in the chain — quality filter, exact-dup
    winner, quota rank — depends only on (doc_id, source, score,
    md5(text)), ~60 bytes/row, never on the text payload. The
    previous plan shuffled full documents TWICE (the per-hash dedup
    window, then grouped_rank's range shuffle). Now the decision
    chain runs on the narrow proxy frame: dedup is a `min_by` hash
    aggregation on md5(text) (map-side partial — no window sort),
    the per-source quota is a row_number window filtered to ≤ 150,
    which a partial ``WindowGroupLimit`` cuts to 150 rows per (map
    partition, source) before the per-source exchange, and the
    bounded survivor set (≤ 150/source) is re-attached by a
    BROADCAST join — only survivors pay tokenization, and no
    exchange ever carries text."""
    from pyspark.sql.window import Window

    from flirt_consume_spark.operators import text as X

    docs = t(spark, sf_dir, "documents")
    q6 = F.floor(X.quality_score("text") * 1e6) / F.lit(1e6)
    base = docs.select(
        "doc_id", "source", q6.alias("_q6"), F.md5("text").alias("_h")
    )
    f = base.filter(F.col("_q6") >= 0.5).select("doc_id", "source", "_h")
    # Exact dedup = keep min doc_id per hash: ONE min_by hash
    # aggregation (partial collapse per task) instead of a per-hash
    # row_number window (full shuffle + sort of every surviving row).
    d = (
        f.groupBy("_h")
        .agg(F.min_by(F.struct("doc_id", "source"), "doc_id").alias("_s"))
        .select(F.col("_s.doc_id").alias("doc_id"), F.col("_s.source").alias("source"))
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    qt = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 150)
        .select("doc_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    ws = F.size(X.tokens("text")).cast("long")
    # Survivor re-attach: ≤ 150·|sources| ids — broadcast, so the
    # second documents scan is filtered in place, never shuffled.
    kept = docs.join(F.broadcast(qt), "doc_id")
    return kept.select("source", split.alias("split"), ws.alias("_ws")).groupBy(
        "source", "split"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_ws").cast("bigint").alias("ws_tokens"),
    )


def _card_oracle() -> str:
    quality = _quality_sql()
    return rf"""
    WITH perdoc AS (
      SELECT source, lang, text,
             CAST(floor(({quality}) * 1e6) AS BIGINT) AS qu,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
                  AS BIGINT) AS ws
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
             AS n_exact_dups,
           CAST(SUM(qu) AS BIGINT) AS quality_units
    FROM perdoc GROUP BY source
    """


@query("llm_dataset_card", oracle=_card_oracle())
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L19: per-source dataset card — the one-scan corpus summary
    every training-data drop ships with (docs, chars, whitespace
    tokens, language spread, exact-dup count, integer-unit quality
    mass), composing the text-analysis family (operators/text.py)
    into a single groupBy. Dup counting is count minus distinct
    md5(text) — the same content hash the exact-dedup key uses, so
    the card's dup number is consistent with what L1 would remove."""
    from flirt_consume_spark.operators import text as X

    docs = t(spark, sf_dir, "documents")
    ws = F.size(X.tokens("text")).cast("long")
    qu = F.floor(X.quality_score("text") * 1e6).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text").cast("long")).cast("bigint").alias(
            "total_chars"
        ),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("n_exact_dups"),
        F.sum(qu).cast("bigint").alias("quality_units"),
    )


@query(
    "join_dpp",
    oracle="""
    WITH f AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day_key, event_type, value
      FROM events
    ), sel AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day_key
      FROM events
      WHERE event_type = 'purchase' AND day(ts) IN (3, 17)
    )
    SELECT f.day_key, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(f.value * 1e6) AS BIGINT)) AS BIGINT)
             AS value_units
    FROM f JOIN sel USING (day_key)
    GROUP BY f.day_key
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: dynamic partition pruning — the day-partitioned event sink
    joined to a selective dimension of days (derived from the data, so
    Catalyst cannot fold it statically): Spark plans a dynamicpruning
    subquery on the fact scan, and only the ~2 of ~30 partitions the
    dim selects are READ (plan-asserted in tests/test_plans.py). At
    100 TB this is the difference between scanning every partition
    directory and scanning the two the dim names — static pruning's
    runtime sibling, and the reason sinks partition by a date key in
    the first place. The oracle replays the join unpartitioned;
    identical results prove pruning is purely a scan optimization."""
    ev = t(spark, sf_dir, "events")
    root = cache_path("dpp", sf_dir, "events")
    keyed = ev.withColumn("day_key", F.date_format("ts", "yyyy-MM-dd"))
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        keyed.write.mode("overwrite").partitionBy("day_key").parquet(root)
    # Explicit schema (analysis-only, no job): a zero-row source
    # writes _SUCCESS with no data files, and schema inference on a
    # fileless partitioned dir throws UNABLE_TO_INFER_SCHEMA. Empty
    # month partitions are routine at 100 TB; the read-back must not
    # depend on at least one part-file existing.
    fact = spark.read.schema(keyed.schema).parquet(root)
    sel = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.dayofmonth("ts").isin(3, 17)
        )
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day_key"))
        .distinct()
    )
    return (
        fact.join(sel, "day_key")
        .groupBy("day_key")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long"))
            .cast("bigint")
            .alias("value_units"),
        )
    )


@query(
    "join_colocated",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(l_extendedprice * 1e2) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: co-located (bucketed) fact-fact join — THE shuffle
    eliminator for repeated joins on the same key at 100 TB: both
    tables are persisted hash-bucketed on the join key with the same
    bucket count (operators/scale.write_bucketed — the Spark-native
    analogue of the reference's secondary indexes), so the sort-merge
    join reads bucket-aligned files with NO Exchange on either side
    (plan-asserted in tests/test_scale.py). Both bucketed tables come
    from operators/scale.colo_table (the single owner of each cache's
    name/fingerprint/schema — A23 shares the lineitem one). The oracle
    is the plain join on the source views — bucketing must be
    result-invariant."""
    from flirt_consume_spark.operators.scale import colo_table

    o = colo_table(
        spark, sf_dir, "orders", ("o_orderkey", "o_orderstatus"), "o_orderkey"
    )
    li = colo_table(
        spark,
        sf_dir,
        "lineitem",
        ("l_orderkey", "l_extendedprice"),
        "l_orderkey",
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("l_extendedprice") * 1e2).cast("long"))
            .cast("bigint")
            .alias("price_cents"),
        )
    )


@query(
    "win_cume",
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice,
                 o_orderkey)
    """,
)
def win_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: distribution ranks — percent_rank/cume_dist per status
    (where does this fare sit in its class). Total order (price, key)
    makes tie handling deterministic, which also means
    percent_rank = (row_number−1)/(n−1) and cume_dist = row_number/n
    exactly — so the ranks come from ``grouped_rank`` (ONE
    range-partitioned global rank + broadcast per-status offsets),
    NOT a per-status window: orders has 3 statuses, and a
    Window.partitionBy(status) would serialize the whole table into
    3 reducers at any scale. Counts per status ride the same
    broadcast; each emitted double is one division of exact
    integers, 6-decimal rounded identically on both engines."""
    from flirt_consume_spark.operators.scale import grouped_rank

    od = t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    # count_col: per-status totals ride grouped_rank's own offsets
    # broadcast (r12) — the previous separate groupBy(status) count +
    # null-safe join-back re-scanned the table for numbers the rank
    # machinery had already aggregated.
    ranked = grouped_rank(
        od,
        ["o_orderstatus"],
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rank_col="_r",
        count_col="_n",
    )
    return ranked.select(
        "o_orderkey",
        F.round(
            # n = 1 ⇒ percent_rank is defined as 0 (not 0/0)
            F.when(
                F.col("_n") > 1,
                (F.col("_r") - 1).cast("double")
                / (F.col("_n") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pr"),
        F.round(
            F.col("_r").cast("double") / F.col("_n").cast("double"), 6
        ).alias("cd"),
    )


@query(
    "sql_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS cnt
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
    )
    GROUP BY o_orderpriority
    """,
)
def sql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL API — Catalyst decorrelates
    it into a left-semi hash join (no per-row subquery execution, the
    rewrite that makes EXISTS usable at 100 TB). Complements J3's
    DataFrame-API semi join with the SQL-surface form."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("od_ex")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_ex")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS cnt
        FROM od_ex o
        WHERE EXISTS (
          SELECT 1 FROM li_ex l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
        )
        GROUP BY o_orderpriority
        """
    )


@query(
    "scan_pyds",
    oracle="""
    SELECT (i * i) % 97 AS m, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(i / 7.0 * 1e6) AS BIGINT)) AS BIGINT)
             AS x_units
    FROM range(0, 20000) t(i)
    GROUP BY 1
    """,
)
def scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: custom Python data source (the PySpark 4 DataSource API) —
    the extension point for feeds Spark has no native reader for
    (the reference's bespoke extract endpoints). A deterministic
    arithmetic series source with real partition planning: the reader
    declares one InputPartition per session core (r13, the fan_out
    rule — a CONSTANT 8 underused local[32] and overstated the
    8-core scaling leg), each generating its own id range on its
    executor — so a custom Python source parallelizes like any file
    scan instead of funneling through the driver. Classes are defined
    in function scope so cloudpickle ships them by value (executors
    never import this package). Oracle replays the series from
    DuckDB's range() — partition boundaries never affect the
    aggregate."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    N = 20_000
    PARTS = max(1, spark.sparkContext.defaultParallelism)

    class SeriesReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(PARTS)]

        def read(self, partition):
            per = N // PARTS
            lo = partition.value * per
            hi = N if partition.value == PARTS - 1 else lo + per
            for k in range(lo, hi):
                yield (k, (k * k) % 97, k / 7.0)

    class SeriesSource(DataSource):
        @classmethod
        def name(cls):
            return "det_series"

        def schema(self):
            return "i long, m long, x double"

        def reader(self, schema):
            return SeriesReader()

    spark.dataSource.register(SeriesSource)
    df = spark.read.format("det_series").load()
    return df.groupBy("m").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("x") * 1e6).cast("long"))
        .cast("bigint")
        .alias("x_units"),
    )


@query(
    "graph_triangles",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(o_custkey % 4999, l_suppkey * 13 % 4999) AS u,
                      greatest(o_custkey % 4999, l_suppkey * 13 % 4999) AS v
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 400000 AND o_custkey % 4999 <> l_suppkey * 13 % 4999
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*)
                 FROM e e1 JOIN e e2 ON e1.v = e2.u
                           JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
                AS BIGINT) AS n_triangles
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: triangle counting — the clustering-coefficient primitive,
    via oriented adjacency intersection: edges directed low→high id,
    each node's out-neighbor list collected once, and each triangle
    {a<b<c} counted exactly once at its lowest edge (a,b) as
    c ∈ N⁺(a) ∩ N⁺(b) — the compact-forward / edge-iterator form of
    the wedge join (Schank & Wagner 2005). r12 (guide §2.4): versus
    the former two-join wedge plan this NEVER materializes the wedge
    stream (Σ deg² rows through a join); the intersection is one
    in-row array_intersect per edge, and the only shuffles are the
    adjacency groupBy + two edge⋈adjacency hash joins (measured
    1.32 → 0.73 s A/B at sf0.1, counts identical). Join fan-out
    stays bounded by out-degree of the LOW endpoint — the standard
    degree-orientation trick that keeps hub nodes from exploding.
    High-value orders only, nodes folded into a 4999-bucket space:
    sparse enough that intersections stay bounded, dense enough to
    close triangles."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    a = F.col("o_custkey") % 4999
    b = F.col("l_suppkey") * 13 % 4999
    e = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .filter((F.col("o_totalprice") > 400000) & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
        # probed by the edge count, adjacency build, and both sides of
        # the edge⋈adjacency joins. localCheckpoint, not persist: the
        # r13 same-session ABAB (5 cleared reps each) measured 1.61 s
        # vs 1.81 s median for this key's narrow int frames.
        .localCheckpoint(eager=False)
    )
    adj = e.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("nbrs"))
    au = adj.select(F.col("u").alias("_ju"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("_jv"), F.col("nbrs").alias("nv"))
    tri = (
        e.join(au, e["u"] == F.col("_ju"))
        .join(av, e["v"] == F.col("_jv"))
        .select(F.size(F.array_intersect("nu", "nv")).alias("k"))
    )
    return e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")).crossJoin(
        tri.agg(F.sum("k").cast("bigint").alias("n_triangles"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT event_type,
           CAST(EXTRACT(year FROM ts) AS BIGINT) AS yr,
           CAST(GROUPING(event_type) * 2 + GROUPING(EXTRACT(year FROM ts))
                AS BIGINT) AS gid,
           COUNT(*) AS cnt
    FROM events
    GROUP BY GROUPING SETS ((event_type), (EXTRACT(year FROM ts)), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4b: explicit GROUPING SETS (the general form rollup/cube
    specialize) through the SQL API — per-dimension marginals + grand
    total in ONE pass (planned via Expand, not three scans). Also
    exercises temp-view registration + spark.sql as a query surface."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ev_gs")
    return spark.sql(
        """
        SELECT event_type,
               CAST(year(ts) AS BIGINT) AS yr,
               CAST(grouping(event_type) * 2 + grouping(year(ts)) AS BIGINT)
                 AS gid,
               COUNT(*) AS cnt
        FROM ev_gs
        GROUP BY GROUPING SETS ((event_type), (year(ts)), ())
        """
    )


@query(
    "time_islands",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e,
             event_id
      FROM events
    ), marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), grouped AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(s) AS start_us, MAX(e) AS end_us,
           COUNT(*) AS n_events
    FROM grouped GROUP BY user_id, island
    """,
)
def time_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: merge overlapping intervals (gaps-and-islands) — each event
    spans [ts, ts+5min); intervals of the same user that overlap a
    running island are merged. The classic one-window solution: a
    strictly-preceding running MAX(end) marks island starts, a running
    SUM numbers them — one shuffle on user_id, no self-join (the naive
    interval-overlap join is quadratic per user). All arithmetic in
    integer µs, so island boundaries are exact."""
    from pyspark.sql.window import Window

    iv = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 300_000_000).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(w_prev), F.lit(-(1 << 63)).cast("long")
            ),
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = marked.withColumn(
        "island", F.sum("new_island").over(w_run).cast("bigint")
    )
    return grouped.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "udf_arrow",
    oracle="""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: mapInArrow — the zero-copy RecordBatch UDF surface (one
    level below mapInPandas: no pandas conversion at all; the batch
    stays Arrow end-to-end). Per-batch pyarrow.compute kernels emit
    char + byte lengths; the oracle recomputes both in SQL. Closure
    rules as everywhere: the batch fn ships by value."""

    def batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                ],
                ["doc_id", "n_chars", "n_bytes"],
            )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        batches, "doc_id long, n_chars long, n_bytes long"
    )


@query(
    "scan_orc",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: ORC scan — the other columnar format Spark reads natively
    (vectorized reader, predicate pushdown, same scan surface as
    parquet; mixed-format lakes are routine at 100 TB). Round-trips
    the orders table through an ORC sink and aggregates the read-back;
    the oracle runs the same aggregate on the parquet view, proving
    the format round-trip lossless for the aggregated columns."""
    orders = t(spark, sf_dir, "orders")
    path = cache_path("orc", sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.coalesce(4).write.mode("overwrite").orc(path)
    df = spark.read.orc(path)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("o_totalprice") * 1e2).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )


_PR_ITER_SQL = """
  c{i} AS (
    SELECT e.dst AS node,
           CAST(SUM((r{p}.r * 85) // (100 * deg.d)) AS BIGINT) AS c
    FROM e JOIN r{p} ON e.src = r{p}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ), r{i} AS (
    SELECT n.node, CAST(150000 + COALESCE(c{i}.c, 0) AS BIGINT) AS r
    FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node
  )"""


@query(
    "graph_pagerank",
    oracle=(
        """
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
    ),"""
        + _PR_ITER_SQL.format(i=1, p=0)
        + ","
        + _PR_ITER_SQL.format(i=2, p=1)
        + """
    SELECT node, r AS rank_micro FROM r2
    """
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: PageRank (damping 0.85, 2 fixed iterations) over the
    customer→supplier purchase graph — the canonical iterative graph
    computation, expressed as per-iteration join+agg passes and
    EXACTLY oracle-checked: ranks live in integer micro-units and
    each contribution is the integer floor (r·85)/(100·deg), so
    summation order cannot perturb results and both engines walk
    identical iterates (the same determinism discipline as
    emb_kmeans; public algorithm per Page et al. 1999, dangling
    nodes contribute nothing — the standard simplification).

    Scale shape: edges shuffle once per iteration on src (join with
    the rank table) and once on dst (contribution agg) — bounded
    passes, no broadcast of the rank vector, the plan a 100-TB edge
    list needs. Ranks are per-node rows, never a driver structure."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    # Degree is static across iterations: attach it to the edge list
    # ONCE (a window over the same src partitioning — no extra join);
    # each iteration then needs only edges ⋈ ranks.
    from pyspark.sql.window import Window

    e_deg = e.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )
    nodes = (
        e_deg.select(F.col("src").alias("node"))
        .union(e_deg.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # r13 re-adjudication (VERDICT r12 task 1): the r12 iteration-1
    # constant fold (skip the first edges ⋈ ranks join) measured
    # SLOWER in the committed solo A/B (4.07 vs 2.11 s median across
    # two interleaved cycles, plans/r13/readjudicate_*.json), matching
    # the r12 closing bench's 0.84x — the "saved" join is a cheap
    # AQE-broadcast of the constant rank table, and the fold's bushier
    # first stage loses more than the join cost. REVERTED to the r11
    # uniform loop.
    r = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("r"))
    for _ in range(2):
        contrib = (
            e_deg.join(r, e_deg["src"] == r["node"])
            .groupBy("dst")
            .agg(
                F.sum(F.expr("(r * 85) DIV (100 * d)"))
                .cast("bigint")
                .alias("c")
            )
        )
        r = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit(150_000) + F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("r"),
        )
    return r.select("node", F.col("r").alias("rank_micro"))


_KM_ITER_SQL = """
  d{i} AS (
    SELECT v.vec_id, c.cid,
           SUM(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e15) AS BIGINT)) AS dq
    FROM vl v JOIN c{p} c USING (pos) GROUP BY v.vec_id, c.cid
  ), a{i} AS (
    SELECT vec_id, cid FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rn
      FROM d{i}
    ) WHERE rn = 1
  ), c{i} AS (
    SELECT a.cid, v.pos,
           CAST(SUM(CAST(floor(v.x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / COUNT(*) AS c
    FROM a{i} a JOIN vl v USING (vec_id) GROUP BY a.cid, v.pos
  )"""


@query(
    "emb_kmeans",
    oracle=(
        """
    WITH vl AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, pos, x AS c FROM vl WHERE vec_id < 5
    ),"""
        + _KM_ITER_SQL.format(i=1, p=0)
        + ","
        + _KM_ITER_SQL.format(i=2, p=1)
        + """
    SELECT a2.cid, COUNT(*) AS n_members,
           CAST(SUM(s.sig) AS BIGINT) AS member_checksum
    FROM a2 JOIN (
      SELECT vec_id, SUM(CAST(floor(x * 1e6) AS BIGINT)) AS sig
      FROM vl GROUP BY vec_id
    ) s USING (vec_id)
    GROUP BY a2.cid
    """
    ),
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L18: k-means (Lloyd's, k=5, 2 fixed iterations) over the
    embedding corpus — the iterative clustering primitive behind IVF
    index training and corpus diversity analysis, expressed entirely
    in DataFrame joins/aggregations AND exactly oracle-checked (rare
    for an iterative ML op):

    - vectors live in LONG form (vec_id, pos, x) so every step is an
      equi-join + hash agg on bounded keys — no vector broadcast, no
      driver loop over data; k iterations = k passes, each shuffling
      only (vec_id|cid,pos)-keyed aggregates. At 100 TB the long form
      shuffles more bytes than a broadcast-centroid design but never
      assumes centroids×dims fits anywhere, and each pass is AQE-
      coalescible.
    - determinism: squared-distance partial sums are floored into
      1e-15-grain BIGINT units (order-independent integer addition —
      double summation order would diverge between engines), argmin
      ties break on cid, and centroid updates are exact fixed-point
      means — so both engines walk IDENTICAL iterates and the final
      membership hash-matches bit-for-bit.
    - empty clusters drop out of the centroid table on both sides
      identically (inner-join semantics).

    Output: cluster id, member count, and an order-independent member
    checksum (so the oracle verifies the exact partition of vectors,
    not just sizes)."""
    emb = t(spark, sf_dir, "embeddings")
    vl, assign = _km_state(spark, sf_dir)
    sig = vl.groupBy("vec_id").agg(
        F.sum(F.floor(F.col("x") * 1e6).cast("long")).alias("sig")
    )
    return (
        assign.join(sig, "vec_id")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("sig").cast("bigint").alias("member_checksum"),
        )
    )


def _km_state(spark: SparkSession, sf_dir: str):
    """Lloyd's loop shared by emb_kmeans (emits cluster summaries)
    and llm_semdedup (consumes the final assignment as its blocking
    key). Returns (long-form vectors, final (vec_id, cid)
    assignment). Runs fresh per invocation. The cell count is fixed
    at k = 5 so the unrolled Lloyd's SQL of the oracles stays
    tractable; per-cell pair work in llm_semdedup is ~N²/k, so at
    scale k would grow with the corpus (SemDeDup uses k in the tens
    of thousands at web scale)."""
    k = 5
    emb = t(spark, sf_dir, "embeddings")
    vl = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ),
        )
        .select("vec_id", F.col("pos"), F.col("col").alias("x"))
    )
    cents = vl.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("c")
    )
    for _ in range(2):
        d = (
            vl.join(cents, "pos")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("x") - F.col("c"))
                        * (F.col("x") - F.col("c"))
                        * 1e15
                    ).cast("long")
                ).alias("dq")
            )
        )
        # Nearest centroid = min_by hash agg, not a per-vec_id
        # row_number window: the agg partial-combines each task's k
        # candidate rows per vector map-side (no sort, no window
        # shuffle of the k·N distance frame). Ordinal (dq, cid) is
        # unique per vector ⇒ deterministic.
        assign = d.groupBy("vec_id").agg(
            F.min_by("cid", F.struct("dq", "cid")).alias("cid")
        )
        cents = (
            assign.join(vl, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.floor(F.col("x") * 1e9).cast("long")) / F.lit(1e9)
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )
    assign = assign.localCheckpoint(eager=False)
    return vl, assign


@query(
    "emb_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(scale * 1e9) AS BIGINT) AS scale_e9,
           CAST(list_sum(list_transform(v,
                x -> CAST(floor((x / scale) * 127) AS BIGINT))) AS BIGINT)
             AS qsum,
           CAST(floor(list_max(list_transform(v,
                x -> abs(x - (floor((x / scale) * 127) * scale) / 127)))
                * 1e9) AS BIGINT) AS maxerr_e9
    FROM s WHERE scale > 0
    """,
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L17: symmetric int8 embedding quantization — the 4× storage /
    bandwidth compression every large ANN corpus applies before
    indexing. Per vector: scale = max|x|, q_i = floor(x_i/scale·127)
    ∈ [-127, 127], plus the max reconstruction error — all computed
    with array higher-order functions (zero shuffle, zero UDF); the
    oracle replays the identical IEEE chain with DuckDB list lambdas,
    so quantized values hash-match bit-for-bit. Emitted as checksums
    (qsum, floored fixed-point scale/error) rather than raw int8
    arrays to keep the compared surface scalar."""
    from flirt_consume_spark.queries.base import finite_or_fail

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: finite_or_fail(x.cast("double"), "emb_quantize"),
        ).alias("v"),
    )
    scaled = emb.withColumn(
        "scale", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("scale") > 0)
    q = F.transform("v", lambda x: F.floor(x / F.col("scale") * 127))
    quant = scaled.withColumn("q", q)
    err = F.zip_with(
        "v",
        "q",
        lambda x, qq: F.abs(x - qq * F.col("scale") / 127),
    )
    return quant.select(
        "vec_id",
        F.floor(F.col("scale") * 1e9).cast("bigint").alias("scale_e9"),
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda acc, v_: acc + v_
        ).alias("qsum"),
        F.floor(F.array_max(err) * 1e9).cast("bigint").alias("maxerr_e9"),
    )


@query(
    "scan_xml",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
             AS cents,
           MAX(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: XML scan — Spark 4's built-in XML source (rowTag
    streaming parser; schema declared explicitly so the scan never
    pays an inference pass — at 100 TB schema inference IS a second
    full read). Round-trips the orders table through an XML sink and
    aggregates the read-back; the oracle runs the same aggregate on
    the parquet view, proving the round-trip lossless for the
    aggregated columns. Completes the source matrix alongside
    csv/jsonl/text/orc/variant/pyds."""
    orders = t(spark, sf_dir, "orders")
    # "xml32": r12 layout bump — the sink is written at the session's
    # parallelism instead of coalesce(4), because the XML source is
    # not splittable within a file, so file count IS read-parse
    # parallelism (guide §6 small-files vs parallelism trade; at
    # 100 TB the writer would produce many files either way).
    path = cache_path("xml32", sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            orders.select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                    "o_orderdate"
                ),
                "o_orderpriority",
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .save(path)
        )
    df = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate string,"
            " o_orderpriority string"
        )
        .load(path)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("o_totalprice") * 1e2).cast("long"))
        .cast("bigint")
        .alias("cents"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "sink_pyds",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: custom Python data source WRITER (PySpark 4 DataSource
    API, the sink half of S10's reader) — for targets Spark has no
    native connector for. The part that matters is the COMMIT
    PROTOCOL: each task writes its own file and returns a
    WriterCommitMessage naming it; only the driver-side commit()
    publishes the manifest (_SUCCESS) listing exactly the committed
    files, and the read-back goes through that manifest — straggler
    or speculative duplicate task files that never got a commit
    message are invisible, which is the exactly-once story every
    real sink needs. Executor-side writes parallelize per partition
    (no driver funnel); classes are function-scoped so cloudpickle
    ships them by value. Round-trip: orders projection → JSONL via
    the sink → manifest read-back → aggregate, oracled against the
    source table directly (exact integer cents)."""
    import json as _json
    import os
    import shutil

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    # Keyed on source fingerprint (distinct sf_dirs sharing a basename
    # get distinct dirs) AND application id (two concurrent sessions
    # never race on the same rmtree-then-write).
    out_dir = (
        cache_path("pyds_sink", sf_dir, "orders")
        + "_"
        + spark.sparkContext.applicationId
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    class FileMsg(WriterCommitMessage):
        def __init__(self, path: str) -> None:
            self.path = path

    class JsonlWriter(DataSourceWriter):
        def __init__(self, path: str) -> None:
            self.path = path

        def write(self, iterator):
            import uuid

            from pyspark import TaskContext

            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
            fname = os.path.join(
                self.path, f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl"
            )
            with open(fname, "w", encoding="utf-8") as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {
                                "k": row["o_orderkey"],
                                "s": row["o_orderstatus"],
                                "c": row["cents"],
                            }
                        )
                        + "\n"
                    )
            return FileMsg(fname)

        def commit(self, messages):
            manifest = sorted(m.path for m in messages if m is not None)
            with open(
                os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8"
            ) as f:
                _json.dump({"files": manifest}, f)

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_manifest_sink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options["path"])

    spark.dataSource.register(JsonlSink)
    (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .write.format("jsonl_manifest_sink")
        .mode("append")
        .option("path", out_dir)
        .save()
    )
    with open(os.path.join(out_dir, "_SUCCESS"), encoding="utf-8") as f:
        manifest = _json.load(f)["files"]
    back = spark.read.schema("k bigint, s string, c bigint").json(manifest)
    return back.groupBy(F.col("s").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("c").cast("bigint").alias("cents"),
    )


# llm_semdedup's scored within-cell pair set: the |cell|² pairing +
# 64-dim cosine is an expensive kernel whose output (the pairs that
# clear the 0.3 cut) is small. Computed fresh PER INVOCATION — the
# r12 session cache was cross-invocation result memoisation (VERDICT
# r12 "What's wrong" #1) and was removed.
def _semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flirt_consume_spark.operators import similarity as S

    _, assign = _km_state(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    k = 5  # _km_state's oracle-tractable cell count
    return S.embed_dup_pairs(
        emb,
        min_cos=0.3,
        buckets=assign.select("vec_id", F.col("cid").alias("bucket")),
        # cells ∝ N at scale → singleton cells are common, and the
        # assignment is pinned so the second read is free
        prune_singletons=True,
        # k cells < cores locally: salt the pairing so the |cell|²
        # cosine pass runs ~core-wide instead of k-wide; at the
        # design point k tracks the corpus (k >> cores) and the salt
        # degenerates to 1 (see embed_dup_pairs).
        salt_buckets=max(
            1, spark.sparkContext.defaultParallelism // k
        ),
    )


@query(
    "llm_semdedup",
    oracle=(
        """
    WITH vl AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, pos, x AS c FROM vl WHERE vec_id < 5
    ),"""
        + _KM_ITER_SQL.format(i=1, p=0)
        + ","
        + _KM_ITER_SQL.format(i=2, p=1)
        + """
    , v AS (
      SELECT e.vec_id, a2.cid,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
      FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e) /
                  (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.3
    )
    SELECT vec_b AS dup_id, MIN(vec_a) AS canonical_id,
           MAX(cos_sim) AS best_cos, COUNT(*) AS n_links
    FROM pairs GROUP BY vec_b
    """
    ),
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L40: SemDeDup (Abbas et al. 2023) — semantic dedup by
    CLUSTER-then-dedup: k-means cells (the exactly-verified Lloyd's
    loop this module already ships) become the blocking key, and
    cosine near-duplicates are removed only WITHIN a cell —
    the published recipe for semantic dedup at web scale, where the
    cluster count is the knob that keeps per-cell pair work bounded
    (k ≈ corpus/√pairs; here k=5 to keep the oracle's unrolled
    Lloyd's chain tractable, and the knob is the same `cents` seed
    set).

    Composition, not new machinery: the final k-means assignment
    feeds ``embed_dup_pairs`` as its bucket frame (the same pairing/
    cosine/keep-lowest-id path llm_embed_dedup uses over LSH
    buckets), so LSH-blocked and cluster-blocked dedup are the same
    verified kernel under two blocking strategies. Dup policy and
    output shape match llm_embed_dedup (dup_id → lowest-id
    canonical). The 6-dp rounded cosine keeps the threshold cut
    ulp-stable across engines; at 100 TB the only data-sized stages
    are the Lloyd's passes and ONE shuffle keyed on cell id. Nothing
    is memoised across runs."""
    pairs = _semdedup_pairs(spark, sf_dir)
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("canonical_id"),
        F.max("cos_sim").alias("best_cos"),
        F.count(F.lit(1)).alias("n_links"),
    )
