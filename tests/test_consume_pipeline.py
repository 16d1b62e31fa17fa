"""End-to-end consume pipeline over the flirt-domain fixtures
(SURVEY.md §3.1): validate → expand → normalize → enrich → sink, plus
the simulator read path. Golden invariants from FIXTURES.md §B."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from flirt_consume_spark.plans.consume import (
    consume_schedules,
    destination_distribution,
    filter_valid_schedules,
    synth_airports,
    synth_schedules,
)


def test_consume_end_to_end(spark, tmp_path):
    airports = synth_airports(spark)
    sched = synth_schedules(spark)
    legs, unknown = consume_schedules(sched, airports)
    legs = legs.cache()

    n_legs = legs.count()
    assert n_legs > 0

    # E1 invariant: expanded count per schedule == matching days in range
    sample = filter_valid_schedules(sched).limit(50).collect()
    got = {
        r.sched_id: c
        for r, c in [
            (r, legs.filter(F.col("sched_id") == r.sched_id).count())
            for r in sample
        ]
    }
    for r in sample:
        days = (r.disc_date - r.eff_date).days + 1
        want = sum(
            r.day_mask[(r.eff_date + datetime.timedelta(days=i)).isoweekday() - 1]
            == "1"
            for i in range(days)
        )
        # schedules whose orig/dest is dangling are dropped by enrichment
        assert got[r.sched_id] in (want, 0), (r.sched_id, got[r.sched_id], want)

    # E2 invariant: absolute departure == local wall-clock minus offset
    row = legs.filter(F.col("o_offset") != 0).first()
    local = datetime.datetime.strptime(
        f"{row.leg_date} {row.dep_time_local}", "%Y-%m-%d %H:%M"
    )
    assert row.dep_ts_utc == local - datetime.timedelta(minutes=row.o_offset)

    # E2 overnight rule: arrival never precedes departure, and the
    # rollover keeps duration within one day
    bad = legs.filter(
        (F.col("arr_ts_utc") < F.col("dep_ts_utc"))
        | (F.col("duration_min") < 0)
        | (F.col("duration_min") >= 1440)
    ).count()
    assert bad == 0
    assert legs.filter(F.col("duration_min") > 0).count() > 0

    # E2 arrival: the destination airport's own offset turns the
    # absolute arrival back into the published local wall-clock
    offsets = {r.code: r.utc_offset_min for r in airports.collect()}
    rows = legs.filter(F.col("d_offset") != F.col("o_offset")).limit(200).collect()
    assert rows
    for row in rows:
        assert row.d_offset == offsets[row.dest]
        arr_local = row.arr_ts_utc + datetime.timedelta(minutes=row.d_offset)
        assert arr_local.strftime("%H:%M") == row.arr_time_local

    # J2 invariant: unknown-airport report == schedules with dangling refs
    ap_codes = {r.code for r in airports.collect()}
    valid = filter_valid_schedules(sched).collect()
    want_unknown = sum(r.orig not in ap_codes for r in valid) + sum(
        r.dest not in ap_codes for r in valid
    )
    assert unknown.count() == want_unknown > 0

    # S4: month-partitioned sink, re-consume idempotent
    out = str(tmp_path / "legs")
    for _ in range(2):
        legs.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("month_key").parquet(out)
    assert spark.read.parquet(out).count() == n_legs


def test_simulator_read_path(spark):
    airports = synth_airports(spark)
    legs, _ = consume_schedules(synth_schedules(spark), airports)
    origin = legs.groupBy("orig").count().orderBy(F.desc("count")).first().orig
    dist = destination_distribution(legs, origin, "2024-01-01", "2024-03-31")
    rows = dist.collect()
    assert rows, "busiest origin must have departures in the window"
    total_p = sum(r.probability for r in rows)
    assert abs(total_p - 1.0) < 1e-3
    assert all(r.probability > 0 for r in rows)
