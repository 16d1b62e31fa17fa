"""Streaming sources, sinks, and stateful operators (S5/S6, T1–T7).

Every transform takes/returns DataFrames and works identically on
batch and streaming inputs — the tests assert streaming output ==
batch analogue on the same files (SURVEY.md §5.5).

Scale notes: windowed aggregations keep per-key state in the executor
state stores; watermarks bound that state (without one, 100 TB of
stream history accumulates), so every windowed job here takes an
explicit watermark. ``stream_dedup`` takes none: a watermark evicts
only state keyed by its event-time column, and exact dedup by
``event_id`` must remember every id, so its state holds one row per
distinct event (``stream_dedup_within`` is the bounded variant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flirt_consume_spark import schemas
from flirt_consume_spark.io import with_month_key, write_partitioned
from flirt_consume_spark.operators.relational import first_per_key
from flirt_consume_spark.session import apply_runtime_confs


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """S5: file-arrival stream source — the streaming counterpart of
    the reference's cron-poll for new monthly extract files. Each file
    dropped into source_dir is discovered and processed exactly once
    (tracked in the checkpoint's file log).

    The stream reads through the same declared ``schemas.EVENTS`` as
    the batch loader, so starting it runs no job, an empty directory
    needs no special case, and a file whose layout drifts from the
    declaration fails the batch that reads it.
    """
    apply_runtime_confs(spark)
    return (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


# --- windowed aggregations (T1–T3), watermarked (T4) ---------------------


def tumbling_agg(events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """T1+T4: tumbling-window counts per event type. The watermark
    drops events later than `watermark` and lets the state store purge
    closed windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", width).alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(F.floor(F.col("value") * 1e6).cast("long")) / F.lit(1e6))
        .cast("double")
        .alias("val_sum"),
    ).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
        "val_sum",
    )


def sliding_agg(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T2: sliding windows — each event contributes to
    width/slide overlapping windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", width, slide).alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "60 minutes"
) -> DataFrame:
    """T3: session windows — per-user sessions closed after `gap` of
    inactivity. Works in batch too (session_window is a unified op)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.session_window("ts", gap).alias("win"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 1e6).cast("long")) / F.lit(1e6))
        .cast("double")
        .alias("val_sum"),
    ).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "user_id",
        "n_events",
        "val_sum",
    )


def ohlc_agg(
    events: DataFrame, width: str = "15 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """T1-family: OHLC bars per (tumbling window, series) — open/close
    picked by min_by/max_by on a fixed-width total (µs, event_id) key
    INSIDE the windowed aggregation. min_by's partial state is one
    (value, key) pair and merges associatively, so the same code
    converges identically whether micro-batches arrive in order, late
    (within the watermark), or all at once in batch — the unified-op
    property the batch-analogue key + stream==batch test pin."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    from flirt_consume_spark.queries.base import finite_or_fail

    vq = F.floor(finite_or_fail(F.col("value"), "ohlc_agg") * 1e6).cast(
        "bigint"
    )
    step = src.select("ts", "event_type", vq.alias("_vq"), key.alias("_k"))
    return (
        step.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.min_by("_vq", "_k").alias("open_q"),
            F.max("_vq").alias("high_q"),
            F.min("_vq").alias("low_q"),
            F.max_by("_vq", "_k").alias("close_q"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "open_q",
            "high_q",
            "low_q",
            "close_q",
            "n_ticks",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """T5: exactly-once by natural key — dropDuplicates on event_id
    for the life of the query (the reference's idempotent re-consume
    semantics), the same call on streaming and batch input; the state
    keeps one row per distinct event. No watermark: with ``ts``
    outside the key it would evict nothing, yet it would drop new
    events later than its delay, which the batch analogue keeps, and
    end every drain with an empty micro-batch. ``stream_dedup_within``
    is the bounded-state variant, for streams that accept a late
    duplicate being emitted again."""
    return events.dropDuplicates(["event_id"])


def stream_static_join(events: DataFrame, dim: DataFrame, key_expr) -> DataFrame:
    """T7: stream-static enrichment — the dimension is re-read per
    micro-batch (broadcast), the streaming side never shuffles."""
    return events.join(F.broadcast(dim), key_expr, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    interval: str = "30 minutes",
    watermark: str = "60 minutes",
    how: str = "inner",
) -> DataFrame:
    """T8: stream-stream interval join — right-side events joined to
    left-side events of the same user that happened within
    ``interval`` AFTER the left event (click attributed to a preceding
    view, leg matched to its schedule publication in the reference's
    domain).

    Both sides are watermarked and the join condition carries the
    time bound, which is what lets Spark purge join state: a buffered
    left row can be dropped once the right watermark passes
    l_ts + interval. Without the bound, 100 TB of stream history
    accumulates in the state store. Inner join ⇒ matches emit as soon
    as both rows arrive (append mode, no watermark wait).
    ``how='left_outer'`` additionally emits null-matched left rows,
    but only once the watermark passes the row's join window
    (l_ts + interval) — before that a matching right row could still
    arrive, so rows younger than the final watermark stay buffered,
    NOT emitted (asserted in the eviction test). Works identically on
    batch DataFrames (the equivalence tests' oracle path)."""
    l = left.select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
        F.col("event_type").alias("l_type"),
    )
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
        F.col("event_type").alias("r_type"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.expr(f"l_ts + INTERVAL {interval}"))
    )
    return l.join(r, cond, how).select(
        "l_user", "l_id", "r_id", "l_ts", "r_ts"
    )


# --- T6: custom stateful per-key logic -----------------------------------

RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", StringType()),  # decimal-as-string, exact
        StructField("last_ts", TimestampType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total_micro", LongType()),  # value in 1e-6 units, exact
        StructField("last_us", LongType()),
    ]
)


def user_running_totals(events: DataFrame, watermark: str = "60 minutes") -> DataFrame:
    """T6: arbitrary stateful per-key logic via applyInPandasWithState
    (Arrow-batched, the sanctioned Python path) — running per-user
    counters that outlive any window, accumulated in exact integer
    micro-units so state carries no float drift across micro-batches.
    Closure on purpose: executors must not need this package."""

    def running_totals_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total_micro, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_micro += int(round(pdf["value"].sum() * 1_000_000))
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total_micro, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [f"{total_micro / 1_000_000:.6f}"],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    src = events.withWatermark("ts", watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        running_totals_fn,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- harness + sink -------------------------------------------------------


def run_to_memory(
    sdf: DataFrame, name: str, checkpoint: str, output_mode: str = "append"
) -> list:
    """Drain a stream into an in-memory table with availableNow
    (process-everything-then-stop — the reference's one-shot monthly
    consume run). Returns the per-micro-batch state-operator metrics
    (list of stateOperators dicts from each progress event) so tests
    can ASSERT state bounds per batch — numRowsTotal, memory/RocksDB
    state bytes — instead of inferring them."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") if isinstance(p, dict) else None
        if ops:
            metrics.append(ops)
    return metrics


def write_monthly_sink(
    sdf: DataFrame, path: str, checkpoint: str, month_col: str = "month_key"
) -> None:
    """S6: exactly-once idempotent sink — foreachBatch + dynamic
    partition overwrite per month, the Spark-native equivalent of the
    reference's atomic per-month Mongo collection swap. Re-running a
    batch overwrites the same partitions, so replays are idempotent."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned(
            with_month_key(batch_df, "ts", month_col), path, (month_col,)
        )

    q = (
        sdf.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


CDC_LOG_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("op", StringType()),  # 'U' upsert / 'D' delete
        StructField("price_cents", LongType()),
        StructField("version", LongType()),
    ]
)


def apply_cdc_stream(
    spark: SparkSession, source_dir: str, state_path: str, checkpoint: str
) -> None:
    """T10: streaming CDC apply — the incremental twin of the batch
    `cdc_apply` key. A file-arrival stream of change-log records
    (Debezium→lake shape) folds into a standing snapshot via
    foreachBatch MERGE:

    1. compact the micro-batch to latest-per-key (one window inside
       the batch — batches are small, the window is per-key);
    2. union with the standing state and take latest-per-key again —
       versions are carried IN the state, so merge order between
       state and batch is decided by the data, not arrival time;
    3. rewrite the state crash-safely: write-new, rename the old
       snapshot aside, rename the new one in, then delete the old
       copy. No instant ever has the snapshot deleted without a
       replacement on disk — a crash at any point leaves either the
       old state (at its place or at ``.old``) or the fully-written
       new one. The merge's first act is to recover a ``.old`` left
       by a crash between the two renames; the checkpoint then
       replays the interrupted batch and the deterministic merge
       recomputes the identical result (exactly-once preserved).

    Deletes are kept as TOMBSTONES in the state (op='D' rows) rather
    than dropped: a late lower-version upsert for a deleted key must
    NOT resurrect it, and only the tombstone's version can prove
    that. Readers take `op != 'D'`. At scale, tombstones age out with
    a retention pass (the standard Delta/Hudi vacuum contract);
    blindly dropping them here would trade correctness for state
    size. Exactly-once: the checkpoint makes each source file
    contribute to exactly one batch, and re-running a batch recomputes
    the same deterministic merge.
    """
    import os
    import shutil

    def recover_state() -> None:
        """If a prior run crashed between the snapshot-swap renames,
        the only complete snapshot sits at ``.old`` — restore it.
        Runs at job start (covers the no-new-batches replay) and
        before every merge (covers multi-batch runs)."""
        old = state_path + ".old"
        if not os.path.exists(
            os.path.join(state_path, "_SUCCESS")
        ) and os.path.exists(os.path.join(old, "_SUCCESS")):
            if os.path.exists(state_path):
                shutil.rmtree(state_path)
            os.rename(old, state_path)

    recover_state()
    log = spark.readStream.schema(CDC_LOG_SCHEMA).parquet(source_dir)

    latest_first = [
        F.col("version").desc(),
        F.col("price_cents").desc(),
        F.col("op").desc(),
    ]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        tmp, old = state_path + ".new", state_path + ".old"
        recover_state()
        compacted = first_per_key(batch_df, ["key"], latest_first)
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            state = batch_df.sparkSession.read.parquet(state_path)
            compacted = first_per_key(
                state.unionByName(compacted), ["key"], latest_first
            )
        # The write below both reads the old snapshot and materializes
        # the new one; only after it completes do the two renames swap
        # them, so the standing snapshot is never deleted before its
        # replacement is fully on disk.
        compacted.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_path):
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(state_path, old)
        os.rename(tmp, state_path)
        if os.path.exists(old):
            shutil.rmtree(old)

    q = (
        log.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_cdc_snapshot(spark: SparkSession, state_path: str) -> DataFrame:
    """Current-state view over the CDC state: live keys only."""
    return (
        spark.read.parquet(state_path)
        .filter(F.col("op") != "D")
        .select("key", "price_cents")
    )


def read_series_stream(spark: SparkSession, total: int = 6000, chunk: int = 1000) -> DataFrame:
    """S12: custom STREAMING Python data source (PySpark 4
    SimpleDataSourceStreamReader) — the extension point for feeds with
    no native streaming reader (polled HTTP endpoints, bespoke
    queues). A deterministic arithmetic series arrives in
    ``chunk``-sized micro-batches up to ``total`` rows; offsets are
    plain row counters, so the engine's offset log replays exactly
    and a restart resumes mid-series (same checkpoint contract as any
    file source). Classes are function-scoped so cloudpickle ships
    them by value. The batch twin of this source is scan_pyds."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SeriesStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            lo = start["pos"]
            hi = min(lo + chunk, total)
            rows = [(k, (k * k) % 97, k / 7.0) for k in range(lo, hi)]
            return (iter(rows), {"pos": hi})

        def readBetweenOffsets(self, start, end):
            return iter(
                (k, (k * k) % 97, k / 7.0)
                for k in range(start["pos"], end["pos"])
            )

    class SeriesStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "det_series_stream"

        def schema(self):
            return "i long, m long, x double"

        def simpleStreamReader(self, schema):
            return SeriesStreamReader()

    spark.dataSource.register(SeriesStreamSource)
    return spark.readStream.format("det_series_stream").load()


def cms_cells_stream(events: DataFrame) -> DataFrame:
    """T11: streaming Count-Min Sketch — the frequency sketch as a
    streaming aggregate whose STATE IS CONSTANT-SIZE (d·w cells)
    regardless of stream volume, so no watermark is needed to bound
    it: this is the one streaming aggregation shape that never grows.
    Counts are associative, so the state store's incremental fold
    across micro-batches IS the sketch merge — the test pins
    stream-folded cells == batch cells bit-for-bit (both paths share
    the md5 addressing in operators/sketch.py; Spark's seeded
    count_min_sketch() binary could never make that claim)."""
    from flirt_consume_spark.operators.sketch import cms_cells

    return cms_cells(events.select("user_id"), "user_id")


def series_stream_sink(
    spark: SparkSession,
    out_dir: str,
    total: int = 6000,
    chunk: int = 1000,
    timeout_sec: float = 120.0,
) -> None:
    """S18/T12: custom STREAMING Python data SINK (PySpark 4
    ``DataSourceStreamWriter``) — the write-side twin of
    read_series_stream and the streaming twin of sink_pyds' batch
    commit protocol. Executors write task-local jsonl files and
    return them as WriterCommitMessages; the driver's commit()
    publishes ``manifest-epoch-N.json`` per micro-batch. The epoch
    manifest is REWRITTEN atomically (tmp + rename) if a batch is
    re-delivered after a restart, so replayed epochs replace —
    never duplicate — their output: readers take exactly the files
    the manifests name, and stray files from failed/speculative
    tasks are invisible. Runs the deterministic series stream to
    completion with availableNow."""
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class FileMsg(WriterCommitMessage):
        def __init__(self, path, n):
            self.path = path
            self.n = n

    class JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, path):
            self.path = path

        def write(self, iterator):
            name = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(name, "w") as fh:
                for row in iterator:
                    fh.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
                    n += 1
            return FileMsg(name, n)

        def commit(self, messages, batchId):
            manifest = {
                "epoch": batchId,
                "files": sorted(
                    m.path for m in messages if m is not None and m.n > 0
                ),
                "rows": sum(m.n for m in messages if m is not None),
            }
            tmp = os.path.join(self.path, f".manifest-{batchId}.tmp")
            final = os.path.join(self.path, f"manifest-epoch-{batchId}.json")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, sort_keys=True)
            os.replace(tmp, final)

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlStreamSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter(self.options["path"])

    spark.dataSource.register(JsonlStreamSink)
    import glob
    import shutil
    import time

    # A fresh run, not a restart: stale manifests/parts/checkpoint in
    # out_dir would satisfy the completion count before this query
    # commits anything — clear them up front.
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    q = (
        read_series_stream(spark, total=total, chunk=chunk)
        .writeStream.format("jsonl_stream_sink")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    # The simple stream reader has no end-of-stream marker for
    # availableNow, so drive with a fast trigger and stop once every
    # series row has been COMMITTED through an epoch manifest. The
    # target is the same ``total`` the reader generates — never a
    # separately-hardcoded count.
    deadline = time.time() + timeout_sec
    n = 0
    while time.time() < deadline:
        n = 0
        for mpath in glob.glob(os.path.join(out_dir, "manifest-epoch-*.json")):
            with open(mpath) as fh:
                n += json.load(fh)["rows"]
        if n >= total:
            break
        time.sleep(0.5)
    q.stop()
    if n < total:
        raise TimeoutError(
            f"series_stream_sink: only {n}/{total} rows committed "
            f"within {timeout_sec}s — stalled stream, partial manifests"
        )


def read_sink_manifests(out_dir: str):
    """Manifest-faithful read-back: exactly the rows in files the
    epoch manifests name (the read path a downstream consumer of the
    sink would implement)."""
    import glob
    import json
    import os

    rows, epochs = [], []
    for mpath in sorted(glob.glob(os.path.join(out_dir, "manifest-epoch-*.json"))):
        with open(mpath) as fh:
            m = json.load(fh)
        epochs.append((m["epoch"], m["rows"]))
        for fpath in m["files"]:
            with open(fpath) as fh:
                rows.extend(json.loads(line) for line in fh)
    return rows, epochs


def stream_dedup_within(events: DataFrame, delay: str = "5 minutes") -> DataFrame:
    """T13: ``dropDuplicatesWithinWatermark`` — the bounded-state
    dedup CONTRACT made explicit: duplicates of a key are removed
    only while the key's first arrival is within the watermark delay;
    once the watermark passes it, state evicts and a late re-arrival
    is emitted AGAIN. Unlike T5's ``stream_dedup`` (exact dedup by
    key for the life of the query, with state that grows by one row
    per distinct key and is never evicted), this operator
    GUARANTEES state is bounded by the delay and tolerates duplicate
    rows whose event times differ slightly — the semantics a 100-TB
    at-least-once ingest actually wants to declare."""
    src = (
        events.withWatermark("ts", delay) if events.isStreaming else events
    )
    if events.isStreaming:
        return src.dropDuplicatesWithinWatermark(["event_id"])
    return src.dropDuplicates(["event_id"])
