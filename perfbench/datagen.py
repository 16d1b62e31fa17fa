"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow, so the inputs exist before Spark
starts and the same seed always writes the same bytes.

The query workloads read the sf0.01 fixture copied under ``data/``;
only the ingest workload generates its inputs:

* ``write_ingest``: the flirt-consume inputs (airports dimension,
  schedule CSV extract, event parquet files with re-delivered
  duplicates) plus the reference answers the benchmark checks against,
  computed here in numpy/pandas and never by the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- flirt-consume ingest inputs ------------------------------------------


def _codes(idx: np.ndarray) -> np.ndarray:
    a = np.array([chr(65 + i) for i in range(26)])
    return np.char.add(np.char.add(a[idx // 676 % 26], a[idx // 26 % 26]), a[idx % 26])


def _zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


def _write_event_files(out_dir: str, frames: list[pd.DataFrame]) -> None:
    """One parquet file per frame, modification times one second apart
    in list order (a file stream source takes files oldest first)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, frame in enumerate(frames):
        path = os.path.join(out_dir, f"events-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, schema=EVENT_SCHEMA, preserve_index=False), path)
        os.utime(path, (1.7e9 + i, 1.7e9 + i))


def write_ingest(
    out_dir: str,
    seed: int,
    n_schedules: int,
    n_events: int,
    files_per_month: int,
    n_airports: int = 300,
) -> dict:
    """Write airports.csv, schedules/ (CSV), events/ and
    events-one-month/ (parquet files) under ``out_dir``; return paths
    and the reference answers."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)

    # Airports: codes 0..n-1 exist; schedules also reference a few codes
    # past n that the dimension lacks (dangling, the unknown report).
    ap_codes = _codes(np.arange(n_airports))
    airports = pd.DataFrame({
        "code": ap_codes,
        "name": [f"Airport {i}" for i in range(n_airports)],
        "city": [f"City {i % 97}" for i in range(n_airports)],
        "country": _codes(rng.integers(0, 676, n_airports))[:].astype("U2"),
        "lat": np.round(rng.uniform(-60, 70, n_airports), 4),
        "lon": np.round(rng.uniform(-180, 180, n_airports), 4),
        "utc_offset_min": rng.integers(-24, 29, n_airports) * 30,
    })
    ap_path = os.path.join(out_dir, "airports.csv")
    airports.to_csv(ap_path, index=False)

    ns = n_schedules
    orig_i = _zipf_index(rng, n_airports, ns)
    dest_i = (orig_i + 1 + _zipf_index(rng, n_airports - 1, ns)) % n_airports
    dangling = rng.random(ns) < 0.02
    dest_i = np.where(dangling, n_airports + rng.integers(0, 5, ns), dest_i)
    eff = np.datetime64("2024-01-01") + rng.integers(0, 45, ns).astype("timedelta64[D]")
    disc = eff + rng.integers(0, 60, ns).astype("timedelta64[D]")
    mask_bits = rng.integers(1, 128, ns)
    masks = np.array([format(int(m), "07b") for m in mask_bits])
    seats = np.where(rng.random(ns) < 0.04, 0, rng.integers(20, 400, ns))
    service = np.where(rng.random(ns) < 0.08, "F", "J")
    codeshare = rng.random(ns) < 0.1
    sched = pd.DataFrame({
        "sched_id": np.arange(ns),
        "carrier": _codes(rng.integers(0, 676, ns)).astype("U2"),
        "flight_num": rng.integers(1, 10000, ns),
        "orig": _codes(orig_i),
        "dest": _codes(dest_i),
        "eff_date": eff.astype(str),
        "disc_date": disc.astype(str),
        "day_mask": masks,
        "dep_time_local": [f"{h:02d}:{m:02d}" for h, m in zip(rng.integers(0, 24, ns), rng.integers(0, 12, ns) * 5)],
        "arr_time_local": [f"{h:02d}:{m:02d}" for h, m in zip(rng.integers(0, 24, ns), rng.integers(0, 12, ns) * 5)],
        "seats": seats,
        "service_type": service,
        "codeshare": np.where(codeshare, "true", "false"),
    })
    sched_dir = os.path.join(out_dir, "schedules")
    os.makedirs(sched_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(ns), 4)):
        sched.iloc[part].to_csv(os.path.join(sched_dir, f"part-{i}.csv"), index=False)

    # Reference legs: valid schedules expanded day by day in numpy.
    valid = (service == "J") & (seats > 0) & ~codeshare
    known = dest_i < n_airports  # origins are always known
    unknown = int((valid & ~known).sum())
    keep = np.flatnonzero(valid & known)
    span = (disc[keep] - eff[keep]).astype(int) + 1
    rep = np.repeat(keep, span)
    start = np.repeat(np.cumsum(span) - span, span)
    leg_date = eff[rep] + (np.arange(rep.size) - start).astype("timedelta64[D]")
    isodow = (leg_date.astype("datetime64[D]").view("int64") + 3) % 7  # Mon=0
    on = (mask_bits[rep] >> (6 - isodow)) & 1 == 1  # mask char 0 is Monday
    legs = pd.DataFrame({
        "orig": _codes(orig_i[rep[on]]),
        "dest": _codes(dest_i[rep[on]]),
        "leg_date": leg_date[on],
        "seats": seats[rep[on]],
    })

    # Events: distinct ids over two calendar months plus ~5% re-deliveries
    # of an event within the 10-minute watermark (the same row again, in
    # the same or a later file). Each month's deliveries fill
    # ``files_per_month`` files and the modification times rise file by
    # file, so the stream source takes them in delivery order.
    months = np.array(["2024-03-01", "2024-04-01", "2024-05-01"], dtype="datetime64[us]")
    span_us = int((months[-1] - months[0]) / np.timedelta64(1, "us"))
    offs = np.sort(rng.integers(0, span_us, n_events))
    ev = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": months[0] + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 500, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 330.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    n_dup = n_events // 20
    dup_src = rng.choice(n_events, n_dup, replace=False)
    delivered = np.concatenate([offs, offs[dup_src] + rng.integers(0, 600 * 10**6, n_dup)])
    rows = np.concatenate([np.arange(n_events), dup_src])
    order = np.argsort(delivered, kind="stable")
    stream = ev.iloc[rows[order]].reset_index(drop=True)
    # A re-delivery past the last month's end stays in that month's files.
    month_of = np.minimum(np.searchsorted(
        (months[1:-1] - months[0]).astype(np.int64), delivered[order], side="right"), len(months) - 2)
    ev_dir = os.path.join(out_dir, "events")
    parts = [
        part
        for m in range(len(months) - 1)
        for part in np.array_split(np.flatnonzero(month_of == m), files_per_month)
    ]
    _write_event_files(ev_dir, [stream.iloc[p] for p in parts])

    # The sink-bug probe: one month of distinct events in twice as many
    # files as the stream source takes per micro-batch.
    probe = ev[ev.ts < months[1]].head(files_per_month * 2 * 500)
    probe_dir = os.path.join(out_dir, "events-one-month")
    _write_event_files(
        probe_dir, [probe.iloc[p] for p in np.array_split(np.arange(len(probe)), files_per_month * 2)]
    )

    return {
        "airports": ap_path,
        "schedules": sched_dir,
        "events": ev_dir,
        "events_one_month": probe_dir,
        "origins": _codes(np.arange(n_airports)),
        "legs": legs,
        "expect": {
            "events_distinct": n_events,
            "events_delivered": len(stream),
            "events_one_month": len(probe),
            "legs": len(legs),
            "valid_schedules": int(valid.sum()),
            "unknown": unknown,
        },
    }


def lookup_reference(legs: pd.DataFrame, origin: str, start: str, end: str) -> list[tuple]:
    """pandas recomputation of ``destination_distribution``: rows of
    (dest, seats, probability) in the engine's order."""
    lo, hi = np.datetime64(start), np.datetime64(end)
    w = legs[(legs.orig == origin) & (legs.leg_date >= lo) & (legs.leg_date <= hi)]
    by = w.groupby("dest", as_index=False)["seats"].sum()
    total = by.seats.sum()
    by["probability"] = by.seats / total if total else 0.0
    by = by.sort_values(["seats", "dest"], ascending=[False, True])
    return [(d, int(s), float(p)) for d, s, p in by.itertuples(index=False)]
