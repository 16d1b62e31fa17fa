"""Source/sink round-trips (SURVEY.md §2.A): CSV with explicit schema,
JSON lines, partitioned sink with dynamic-partition overwrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flirt_consume_spark.io import (
    load_table,
    read_csv,
    read_jsonl,
    with_month_key,
    write_partitioned,
)
from flirt_consume_spark.schemas import ORDERS

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_csv")
    (
        orders.withColumn(
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    back = read_csv(spark, path, ORDERS)
    assert back.count() == orders.count()
    assert back.schema == ORDERS
    assert (
        back.agg(F.sum("o_orderkey")).collect()[0][0]
        == orders.agg(F.sum("o_orderkey")).collect()[0][0]
    )


def test_jsonl_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").json(path)
    back = read_jsonl(spark, path, nation.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_partitioned_sink_dynamic_overwrite(spark, tmp_path):
    """S4: re-writing one month replaces only that month's partition —
    the reference's per-month collection swap."""
    ev = with_month_key(load_table(spark, SF, "events"), "ts")
    path = str(tmp_path / "sink")
    write_partitioned(ev, path, ("month_key",))
    n_all = spark.read.parquet(path).count()
    assert n_all == ev.count()
    # overwrite the same month with a halved slice; total reflects swap
    half = ev.filter(F.col("event_id") % 2 == 0)
    write_partitioned(half, path, ("month_key",))
    assert spark.read.parquet(path).count() == half.count()


def test_ntz_timestamp_normalized(spark, tmp_path):
    """Regression (round-3 verdict): ``events.ts`` is stored as
    TIMESTAMP_NTZ, and ``unix_micros`` rejects NTZ. load_table must
    expose it as the declared TimestampType, and every
    events-consuming query key must analyze cleanly against an
    NTZ-typed table."""
    import inspect
    import os

    from flirt_consume_spark.queries import REGISTRY

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    ntz_dir = str(tmp_path / "ntz_sf")
    os.makedirs(ntz_dir)
    ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(
        os.path.join(ntz_dir, "events.parquet")
    )
    for name in os.listdir(SF):
        if name != "events.parquet":
            os.symlink(os.path.join(SF, name), os.path.join(ntz_dir, name))

    loaded = load_table(spark, ntz_dir, "events")
    assert dict(loaded.dtypes)["ts"] == "timestamp"

    ev_keys = [
        k
        for k, spec in REGISTRY.items()
        if '"events"' in inspect.getsource(spec.fn)
    ]
    assert "win_lag" in ev_keys and "win_sessionize" in ev_keys
    for k in ev_keys:
        # .schema forces full analysis — the phase where the NTZ
        # type-mismatch class (DATATYPE_MISMATCH on unix_micros) threw.
        assert REGISTRY[k].fn(spark, ntz_dir).schema is not None, k


def test_opening_a_table_or_the_event_stream_starts_no_job(
    spark, jobs_started, tmp_path
):
    """The declared schemas are the whole input layout: opening a
    driver table or the event stream infers and probes nothing, so it
    starts no Spark job."""
    import shutil

    from flirt_consume_spark.schemas import TABLE_NAMES
    from flirt_consume_spark.streaming.jobs import read_events_stream

    opened = {
        name: jobs_started(lambda name=name: load_table(spark, SF, name))
        for name in TABLE_NAMES
    }
    assert opened == dict.fromkeys(TABLE_NAMES, 0)

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "events.parquet")
    assert jobs_started(lambda: read_events_stream(spark, str(src))) == 0


def test_layout_drift_fails_loudly(spark, tmp_path):
    """README's "drift fails loudly", on three inputs: a column whose
    type differs from the declaration, the legacy int64-nanos ``ts``
    layout (batch and stream), and a stream started on an empty
    directory that must still read the µs files arriving later.

    The actions below read the drifted column. A bare ``count()``
    reads no column at all, so it cannot see a type mismatch."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from flirt_consume_spark.schemas import EVENTS
    from flirt_consume_spark.streaming import jobs

    events = pq.read_table(f"{SF}/events.parquet")

    def mirror(tag, column, values):
        d = tmp_path / tag
        d.mkdir()
        i = events.schema.get_field_index(column)
        pq.write_table(events.set_column(i, column, values), d / "events.parquet")
        return str(d)

    # 1. event_id stored as string where the declaration says bigint.
    str_dir = mirror(
        "string_id", "event_id", pc.cast(events.column("event_id"), pa.string())
    )
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str_dir, "events").select("event_id").collect()

    # 2. The legacy layout: ts as raw int64 nanoseconds.
    nanos = pc.multiply(pc.cast(events.column("ts"), pa.int64()), 1000)
    ns_dir = mirror("int64_ns", "ts", nanos)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, ns_dir, "events").select("ts").collect()
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        jobs.run_to_memory(
            jobs.read_events_stream(spark, ns_dir),
            "drift_ns_stream",
            str(tmp_path / "ckpt_ns"),
        )

    # 3. A stream started on an empty directory reads the µs
    # TIMESTAMP_NTZ files that land after it starts.
    want = {i: dt.datetime(2024, 3, 1, 11, i, 0, 123456 + i) for i in range(1, 4)}
    staged = tmp_path / "part-0.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(list(want), pa.int64()),
                "ts": pa.array(list(want.values()), pa.timestamp("us")),
                "user_id": pa.array([1] * 3, pa.int64()),
                "event_type": pa.array(["click"] * 3),
                "value": pa.array([1.0] * 3),
                "props": pa.array(["{}"] * 3),
            }
        ),
        staged,
    )
    src = tmp_path / "late_src"
    src.mkdir()
    q = (
        jobs.read_events_stream(spark, str(src))
        .writeStream.format("memory")
        .queryName("drift_empty_start")
        .option("checkpointLocation", str(tmp_path / "ckpt_empty"))
        .start()
    )
    try:
        q.processAllAvailable()
        os.replace(staged, src / "part-0.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("drift_empty_start")
    assert got.schema == EVENTS
    epoch = dt.datetime(1970, 1, 1)
    assert {
        r.event_id: r.micros
        for r in got.selectExpr("event_id", "unix_micros(ts) AS micros").collect()
    } == {i: (t - epoch) // dt.timedelta(microseconds=1) for i, t in want.items()}


def test_compact_parquet_reduces_files(spark, tmp_path):
    """S8: compaction collapses a many-small-files directory to
    ceil(bytes/target) files with identical content."""
    import os

    from flirt_consume_spark.io import compact_parquet

    docs = load_table(spark, SF, "documents")
    small = str(tmp_path / "small")
    docs.repartition(32).write.mode("overwrite").parquet(small)
    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, small, dst, target_bytes=64 * 1024 * 1024)

    def data_files(p):
        return [
            fn
            for _, _, fs in os.walk(p)
            for fn in fs
            if fn.endswith(".parquet")
        ]

    assert len(data_files(small)) == 32
    assert len(data_files(dst)) == n
    assert n < 32
    back = spark.read.parquet(dst)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_observation_metrics_piggyback_on_scan(spark):
    """df.observe: pipeline health metrics (row count, null count,
    value mass) computed DURING the action — no second scan. The
    monitoring hook a 100-TB ingest wires into every stage."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from flirt_consume_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    obs = Observation("ingest_health")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum(F.floor(F.col("value") * 1e2).cast("long")).alias("value_cents"),
    )
    n = observed.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_null_value"] == 0
    want_cents = ev.agg(
        F.sum(F.floor(F.col("value") * 1e2).cast("long"))
    ).collect()[0][0]
    assert got["value_cents"] == want_cents


def test_xml_roundtrip_full_row_parity(spark, tmp_path):
    """S14: the XML round-trip must preserve every row bit-for-bit
    for the written columns (scan_xml's oracle only covers the
    aggregated ones)."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("d"),
    )
    path = str(tmp_path / "orders_xml")
    (
        orders.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string,"
                " o_totalprice double, d string")
        .load(path)
    )
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0


def test_observe_metrics_match_rows_that_flowed(spark):
    """S19: DataFrame.observe collects metrics as a side effect of
    the action — for exactly the rows that passed the observed node,
    with no second scan. The downstream filter must NOT change the
    observed numbers (observation sits above it)."""
    from flirt_consume_spark.io import load_table
    from flirt_consume_spark.operators.observe import observed_quality

    od = load_table(spark, "/root/testdata/sf0.001", "orders")
    observed, obs = observed_quality(od)
    # downstream work: filter + aggregate — ONE action drives both
    # the answer and the metrics
    kept = observed.filter("o_orderstatus = 'O'").count()
    m = obs.get
    import numpy as np

    pdf = od.toPandas()
    assert m["n_rows"] == len(pdf)
    assert m["n_null_price"] == int(pdf.o_totalprice.isna().sum())
    assert m["sum_cents"] == int(
        np.floor(pdf.o_totalprice.values * 100).astype("int64").sum()
    )
    assert kept == (pdf.o_orderstatus == "O").sum()
