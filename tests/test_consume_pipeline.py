"""End-to-end consume pipeline over the flirt-domain fixtures
(SURVEY.md §3.1): validate → expand → normalize → enrich → sink, plus
the simulator read path. Golden invariants from FIXTURES.md §B."""

from __future__ import annotations

import datetime
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from flirt_consume_spark.io import write_partitioned
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


@pytest.fixture(scope="module")
def sunk_legs(spark, tmp_path_factory):
    """Synthetic legs written month-partitioned and read back, as the
    ingest benchmark's lookups see them."""
    legs, _ = consume_schedules(synth_schedules(spark), synth_airports(spark))
    path = str(tmp_path_factory.mktemp("sink") / "legs")
    write_partitioned(legs, path, ("month_key",))
    return spark.read.parquet(path)


def _busiest_origin(legs):
    return legs.groupBy("orig").count().orderBy(F.desc("count"), "orig").first().orig


def _lookup_reference(legs_pd, origin, start, end):
    """pandas recomputation of ``destination_distribution``: Spark's
    ``round(x, 6)`` rounds the double's decimal form half-up."""
    lo, hi = datetime.date.fromisoformat(start), datetime.date.fromisoformat(end)
    w = legs_pd[(legs_pd.orig == origin) & (legs_pd.leg_date >= lo) & (legs_pd.leg_date <= hi)]
    by = w.groupby("dest", as_index=False)["seats"].sum()
    by = by.sort_values(["seats", "dest"], ascending=[False, True])
    total = int(by.seats.sum())
    return [
        (d, int(s), float(Decimal(repr(s / total)).quantize(Decimal("1e-6"), ROUND_HALF_UP)))
        for d, s in by.itertuples(index=False)
    ]


def test_simulator_read_path(sunk_legs):
    origin = _busiest_origin(sunk_legs)
    dist = destination_distribution(sunk_legs, origin, "2024-01-01", "2024-03-31")
    rows = dist.collect()
    assert rows, "busiest origin must have departures in the window"
    total_p = sum(r.probability for r in rows)
    assert abs(total_p - 1.0) < 1e-3
    assert all(r.probability > 0 for r in rows)


def test_lookup_rows_match_pandas(sunk_legs):
    legs_pd = sunk_legs.select("orig", "dest", "seats", "leg_date").toPandas()
    origin = _busiest_origin(sunk_legs)
    windows = [
        (origin, "2024-01-01", "2024-03-31"),
        (origin, "2024-02-01", "2024-02-10"),
        (min(legs_pd.orig), "2024-01-10", "2024-01-24"),
        (origin, "2030-01-01", "2030-01-31"),  # no departures
    ]
    sizes = []
    for orig, start, end in windows:
        got = [tuple(r) for r in destination_distribution(sunk_legs, orig, start, end).collect()]
        assert got == _lookup_reference(legs_pd, orig, start, end), (orig, start, end)
        sizes.append(len(got))
    assert all(sizes[:-1]) and sizes[-1] == 0, sizes


def test_lookup_starts_at_most_two_jobs(sunk_legs, jobs_started):
    """The normalizer adds no exchange after the hash aggregate: the
    map stage and the result are the only jobs."""
    origin = _busiest_origin(sunk_legs)
    rows = []
    n_jobs = jobs_started(
        lambda: rows.extend(
            destination_distribution(sunk_legs, origin, "2024-01-01", "2024-03-31").collect()
        )
    )
    assert rows
    assert n_jobs <= 2, n_jobs


def test_new_lookup_window_compiles_nothing(spark, sunk_legs):
    """The window bounds reach generated code as string literals, which
    Spark passes by reference: a second, unseen window on the same
    origin runs the classes the first one compiled."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    origin = _busiest_origin(sunk_legs)
    assert destination_distribution(sunk_legs, origin, "2024-01-01", "2024-03-31").collect()
    before = compiles.getCount()
    assert destination_distribution(sunk_legs, origin, "2024-02-03", "2024-02-17").collect()
    assert compiles.getCount() - before == 0


@pytest.mark.parametrize("bad", ["2024-13-01", "2024/01/05"])
def test_lookup_rejects_malformed_bound(sunk_legs, jobs_started, bad):
    origin = _busiest_origin(sunk_legs)
    for start, end in ((bad, "2024-03-31"), ("2024-01-01", bad)):
        def build():
            with pytest.raises(ValueError):
                destination_distribution(sunk_legs, origin, start, end)

        assert jobs_started(build) == 0
