"""The flirt-consume monthly job, re-expressed as one Spark pipeline.

Reference dataflow (SURVEY.md §3.1, [PK]): download monthly schedule
extract → parse/validate → normalize times → expand schedules to dated
legs → enrich with airport dimension → bulk-load into per-month
collections with indexes. Here:

    parse      = explicit-schema CSV/parquet scan (io.read_csv)
    validate   = filter_valid_schedules (P2) + codeshare drop (P3)
    normalize  = local dep time + airport UTC offset → absolute ts (E2)
    expand     = date range × day-of-week mask → dated legs (E1)
    enrich     = broadcast join airports twice, orig + dest (J1)
    load       = month-partitioned parquet, dynamic overwrite (S4)

plus the simulator read path (§3.1.3): seat-weighted destination
distribution for an origin + date window (P4 + A1 + F3).

The driver's test tables carry no flight-schedule fixtures, so
deterministic synthesizers (seeded from row numbers, no RNG) build
FIXTURES.md §B-shaped tables for tests and the rows-only query key.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.io import with_month_key
from flirt_consume_spark.operators.temporal import expand_schedule
from flirt_consume_spark.schemas import AIRPORTS, SCHEDULES


def synth_airports(spark: SparkSession, n: int = 50) -> DataFrame:
    """Deterministic airports dimension (FIXTURES.md §B shape)."""
    base = spark.range(n).select(F.col("id").cast("int").alias("i"))
    code = F.concat(
        F.char(F.lit(65) + (F.col("i") / 26 / 26).cast("int") % 26),
        F.char(F.lit(65) + (F.col("i") / 26).cast("int") % 26),
        F.char(F.lit(65) + F.col("i") % 26),
    )
    return base.select(
        code.alias("code"),
        F.concat(F.lit("Airport "), F.col("i")).alias("name"),
        F.concat(F.lit("City "), F.col("i") % 20).alias("city"),
        F.concat(
            F.char(F.lit(65) + F.col("i") % 26), F.char(F.lit(65) + F.col("i") % 13)
        ).alias("country"),
        ((F.col("i") * 7) % 140 - 70 + 0.5).alias("lat"),
        ((F.col("i") * 131) % 360 - 180 + 0.5).alias("lon"),
        (((F.col("i") * 37) % 27 - 13) * 30).cast("int").alias("utc_offset_min"),
    )


def synth_schedules(spark: SparkSession, n: int = 500, n_airports: int = 50) -> DataFrame:
    """Deterministic schedule extract: ~4% dangling airport refs (J2
    anti-join fodder), zero-seat and cargo rows (P2), codeshare
    duplicates (P3), varied day masks and date ranges (E1)."""
    ap_code = lambda e: F.concat(  # noqa: E731
        F.char(F.lit(65) + (e / 26 / 26).cast("int") % 26),
        F.char(F.lit(65) + (e / 26).cast("int") % 26),
        F.char(F.lit(65) + e % 26),
    )
    base = spark.range(n).select(F.col("id").alias("i"))
    orig_i = (F.col("i") * 17 + 3) % (n_airports + 2)  # +2 → some dangling
    # floor-div term breaks the linear bijection between orig and dest
    # residues — each origin fans out to ~13 destinations instead of 1
    dest_i = (F.col("i") * 29 + F.col("i") / 13 + 11).cast("long") % (
        n_airports + 2
    )
    mask = F.lpad(
        F.conv((F.col("i") * 73 % 127 + 1).cast("string"), 10, 2), 7, "0"
    )
    return base.select(
        F.col("i").alias("sched_id"),
        F.concat(
            F.char(F.lit(65) + (F.col("i") % 5).cast("int")),
            F.char(F.lit(65) + (F.col("i") % 7).cast("int")),
        ).alias("carrier"),
        (F.col("i") % 9000 + 100).cast("int").alias("flight_num"),
        ap_code(orig_i).alias("orig"),
        ap_code(dest_i).alias("dest"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("i") % 28).cast("int")).alias(
            "eff_date"
        ),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("i") % 28 + F.col("i") * 13 % 60).cast("int"),
        ).alias("disc_date"),
        mask.alias("day_mask"),
        F.format_string(
            "%02d:%02d", (F.col("i") * 11 % 24).cast("int"), (F.col("i") * 5 % 12).cast("int") * 5
        ).alias("dep_time_local"),
        F.format_string(
            "%02d:%02d", (F.col("i") * 19 % 24).cast("int"), (F.col("i") * 7 % 12).cast("int") * 5
        ).alias("arr_time_local"),
        F.when(F.col("i") % 23 == 0, 0)
        .otherwise((F.col("i") * 31 % 380 + 20).cast("int"))
        .cast("int")
        .alias("seats"),
        F.when(F.col("i") % 11 == 0, "F").otherwise("J").alias("service_type"),
        (F.col("i") % 7 == 0).alias("codeshare"),
    )


def filter_valid_schedules(sched: DataFrame) -> DataFrame:
    """P2+P3 on the native domain: passenger service, positive seats,
    both endpoints present, operating carrier only."""
    return sched.filter(
        (F.col("service_type") == "J")
        & (F.col("seats") > 0)
        & F.col("orig").isNotNull()
        & F.col("dest").isNotNull()
        & ~F.col("codeshare")
    )


def consume_schedules(
    sched: DataFrame, airports: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The full monthly consume: validate → expand → normalize →
    enrich. Returns (legs, unknown_airport_report).

    legs: one row per dated departure with absolute UTC departure
    timestamp and origin/destination airport attributes. The
    unknown-airport report is the J2 anti-join the reference logs
    before dropping."""
    valid = filter_valid_schedules(sched)

    ap = airports.select("code", "lat", "lon", "utc_offset_min")
    unknown = (
        valid.join(F.broadcast(ap), valid.orig == ap.code, "left_anti")
        .select("sched_id", F.col("orig").alias("missing_code"))
        .unionByName(
            valid.join(F.broadcast(ap), valid.dest == ap.code, "left_anti").select(
                "sched_id", F.col("dest").alias("missing_code")
            )
        )
    )

    legs = expand_schedule(valid, "eff_date", "disc_date", "day_mask")
    # E2: local 'HH:MM' + leg date + origin UTC offset → absolute UTC ts
    o = ap.select(
        F.col("code").alias("_oc"),
        F.col("utc_offset_min").alias("o_offset"),
        F.col("lat").alias("o_lat"),
        F.col("lon").alias("o_lon"),
    )
    d = ap.select(
        F.col("code").alias("_dc"),
        F.col("lat").alias("d_lat"),
        F.col("lon").alias("d_lon"),
        F.col("utc_offset_min").alias("d_offset"),
    )
    enriched = (
        legs.join(F.broadcast(o), legs.orig == F.col("_oc"), "inner")
        .join(F.broadcast(d), legs.dest == F.col("_dc"), "inner")
        .withColumn(
            "dep_ts_utc",
            F.to_timestamp(
                F.concat_ws(" ", F.col("leg_date"), F.col("dep_time_local")),
                "yyyy-MM-dd HH:mm",
            )
            - F.col("o_offset") * F.expr("INTERVAL 1 MINUTE"),
        )
        # Arrival: published local arr time at dest names a wall-clock,
        # not a day — the flight lands at the first such wall-clock at
        # or after departure (the reference's overnight-arrival rule,
        # generalized: normalize the UTC delta into [0, 24h)).
        .withColumn(
            "_arr_naive",
            F.to_timestamp(
                F.concat_ws(" ", F.col("leg_date"), F.col("arr_time_local")),
                "yyyy-MM-dd HH:mm",
            )
            - F.col("d_offset") * F.expr("INTERVAL 1 MINUTE"),
        )
        .withColumn(
            "_dur_sec",
            F.pmod(
                F.unix_timestamp("_arr_naive") - F.unix_timestamp("dep_ts_utc"),
                F.lit(86400),
            ),
        )
        .withColumn(
            "arr_ts_utc",
            F.col("dep_ts_utc") + F.col("_dur_sec") * F.expr("INTERVAL 1 SECOND"),
        )
        .withColumn("duration_min", (F.col("_dur_sec") / 60).cast("int"))
        .transform(with_month_key, "dep_ts_utc")
        .drop("_oc", "_dc", "_arr_naive", "_dur_sec")
    )
    return enriched, unknown


def destination_distribution(
    legs: DataFrame, origin: str, start: str, end: str
) -> DataFrame:
    """§3.1.3 simulator read path: seat-weighted destination
    probabilities for flights departing `origin` in [start, end] —
    the distribution FLIRT samples for Monte-Carlo passenger routing.

    The normalizer is a partition-less window over the per-destination
    aggregate, which is coalesced to one partition first. That single
    partition satisfies both the window and the global sort, so a
    lookup plans no exchange after the hash aggregate and runs as two
    Spark jobs (map stage, result). It holds at most one row per
    destination, so its size is bounded by the airport count at any
    scale; Spark's "No Partition Defined for Window operation" warning
    is expected here. The plan stays lazy, and an empty window yields
    zero rows, not NULL probabilities.

    `start` and `end` are ISO dates (`YYYY-MM-DD`); a malformed or
    impossible date raises `ValueError` before any Spark work. The
    window is compared as the ISO string of `leg_date`, not as a date:
    Spark writes a date literal into its generated Java, so every new
    window would compile its own classes, while a string literal is
    passed by reference and every window reuses one cached class. ISO
    strings sort as their dates do."""
    lo = datetime.date.fromisoformat(start).isoformat()
    hi = datetime.date.fromisoformat(end).isoformat()
    window = legs.filter(
        (F.col("orig") == origin)
        & F.col("leg_date").cast("string").between(lo, hi)
    )
    by_dest = window.groupBy("dest").agg(F.sum("seats").alias("seats"))
    total = F.sum("seats").over(Window.partitionBy())
    return (
        by_dest.coalesce(1)
        .select("dest", "seats", F.round(F.col("seats") / total, 6).alias("probability"))
        .orderBy(F.col("seats").desc(), "dest")
    )
