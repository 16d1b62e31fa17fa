"""The two workloads: what each generates, warms, times and checks.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned its result. Operations are
timed with the tracer off unless the run is the traced one; outputs
are checked after each operation, outside the timed region.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from spans import StreamProgress, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
# A copy of the engine's sf0.01 test fixture: the scale its DuckDB
# oracles are checked at.
DATA = os.path.join(HERE, "data", "sf0.01")

# The frozen key list of the queries workload: a fixed subset of two
# classes of registry keys (NOTES.md lists both classes in full and how
# the subset was picked). Never recompute it from measurements, or an
# optimization would move keys out of the workload.
QUERY_KEYS = (
    # iterative: a body that launches many driver-synchronized Spark
    # jobs before it returns a frame.
    "graph_bfs_dist",
    # relational: one-shot plans that spend most of their time opening
    # tables (8 opens) or in the final action (17 jobs).
    "shape_market_share",
    "sql_recursive",
)

# files_per_month equals the stream source's maxFilesPerTrigger, so each
# micro-batch holds one calendar month (NOTES.md, open sink bug).
INGEST = {"schedules": 10000, "events": 20000, "files_per_month": 8, "lookups": 4}


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    amount: int = 1  # rows drained or legs written, for the ingest rates


@dataclass
class Run:
    spark: object
    tracer: Tracer
    rng: np.random.Generator
    work: str
    ops: list[Op] = field(default_factory=list)
    checked: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool) -> bool:
        self.checked += 1
        self.failed += not ok
        return ok

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value


def _matches(spark_df, duck_df) -> bool:
    """The comparison of ``testing.check_key``, on a result already in
    hand: same columns, same row count, canonical rows equal."""
    from flirt_consume_spark.testing import canon_rows

    if sorted(spark_df.columns) != sorted(duck_df.columns) or len(spark_df) != len(duck_df):
        return False
    s, d = spark_df.copy(), duck_df.copy()
    for c in s.columns:
        if s[c].isna().all() and d[c].isna().all():
            s[c] = None
            d[c] = None
    return canon_rows(s) == canon_rows(d)


class QueryWorkload:
    warmup_passes = 2
    pass_s = 5.0  # nominal
    sf = DATA  # read in place; nothing to generate

    def __init__(self, keys: tuple[str, ...]):
        self.keys = keys

    def generate(self, out_dir: str, seed: int) -> None:
        pass

    def warmup(self, run: Run, pass_no: int) -> None:
        """One checked pass through ``testing.check_key``; it also
        caches each key's oracle result for the timed passes."""
        from flirt_consume_spark.queries import REGISTRY
        from flirt_consume_spark.testing import check_key, duck_connect

        con = duck_connect(self.sf)
        self.expected = {}
        for key in self.keys:
            spec = REGISTRY[key]
            res = check_key(run.spark, con, spec, self.sf)
            run.check(res["status"] in ("OK", "ROWS_ONLY"))
            self.expected[key] = con.execute(spec.oracle).df() if spec.oracle else res["rows"]
        con.close()

    def run_pass(self, run: Run, pass_no: int) -> None:
        for key in run.rng.permutation(self.keys):
            self._invoke(run, str(key), pass_no)

    def _invoke(self, run: Run, key: str, pass_no: int) -> None:
        from flirt_consume_spark.queries import REGISTRY

        spark, tr = run.spark, run.tracer
        jsc = spark.sparkContext._jsc
        spark.catalog.clearCache()
        pinned0 = jsc.getPersistentRDDs().size() if tr.enabled else 0
        t0 = time.perf_counter()
        with tr.span("queries.build", key, pass_no) as build:
            df = REGISTRY[key].fn(spark, self.sf)
            if build is not None:
                build["pinned"] = jsc.getPersistentRDDs().size() - pinned0
        if tr.enabled:
            with tr.span("plan", key, pass_no):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
        with tr.span("exec", key, pass_no) as ex:
            result = df.toPandas()
        elapsed = time.perf_counter() - t0
        if ex is not None:
            ex["plan_chars"] = len(qe.executedPlan().toString())
            tr.count_jobs()
        want = self.expected[key]
        ok = len(result) == want if isinstance(want, int) else _matches(result, want)
        run.ops.append(Op(key, elapsed, run.check(ok)))


class IngestWorkload:
    """Stream ingest, monthly schedule consume, simulator lookups."""

    warmup_passes = 1
    pass_s = 9.0  # nominal

    def generate(self, out_dir: str, seed: int) -> None:
        self.inputs = datagen.write_ingest(
            out_dir, seed, INGEST["schedules"], INGEST["events"], INGEST["files_per_month"]
        )

    def warmup(self, run: Run, pass_no: int) -> None:
        """The first pass; it attaches the streaming listener of a
        traced run first."""
        self.legs_path = os.path.join(run.work, "legs")
        self.progress = StreamProgress() if run.tracer.enabled else None
        if self.progress:
            run.spark.streams.addListener(self.progress.listener)
        self.drains = 0
        self.run_pass(run, pass_no)

    def run_pass(self, run: Run, pass_no: int) -> None:
        self.drains += 1
        self._drain(run, self.drains)
        self._consume(run)
        n_origins = len(self.inputs["origins"])
        w = 1.0 / np.arange(1, n_origins + 1) ** 1.1
        for _ in range(INGEST["lookups"]):
            origin = self.inputs["origins"][run.rng.choice(n_origins, p=w / w.sum())]
            start = np.datetime64("2024-01-01") + int(run.rng.integers(0, 100))
            end = start + int(run.rng.integers(0, 15))
            self._lookup(run, str(origin), str(start), str(end))

    def _stream(self, run: Run, source: str, tag: str) -> tuple[float, tuple]:
        """Drain ``source`` into a fresh sink; return the drain's wall
        time and the sink's (rows, distinct event ids)."""
        from flirt_consume_spark.streaming.jobs import (
            read_events_stream,
            stream_dedup,
            write_monthly_sink,
        )

        spark = run.spark
        sink = os.path.join(run.work, f"sink-{tag}")
        t0 = time.perf_counter()
        with run.tracer.span("streaming", tag):
            sdf = stream_dedup(read_events_stream(spark, source))
            write_monthly_sink(sdf, sink, os.path.join(run.work, f"ckpt-{tag}"))
        elapsed = time.perf_counter() - t0
        got = spark.read.parquet(sink).selectExpr("count(*)", "count(distinct event_id)").first()
        return elapsed, tuple(got)

    def _drain(self, run: Run, tag) -> None:
        tr, expect = run.tracer, self.inputs["expect"]
        if self.progress:
            self.progress.reset()
        elapsed, got = self._stream(run, self.inputs["events"], f"drain-{tag}")
        if tr.enabled:
            self.progress.terminated.wait(10)
            batches = self.progress.progress
            run.add("streaming.batches", len(batches))
            run.add("streaming.input_rows", sum(b["rows"] for b in batches))
            run.add("streaming.batch_ms.p50", float(np.median(
                [b["duration_ms"].get("triggerExecution", 0) for b in batches] or [0])))
            run.add("streaming.addbatch_ms", sum(b["duration_ms"].get("addBatch", 0) for b in batches))
            run.add("streaming.state_rows", batches[-1]["state_rows"] if batches else 0)
            tr.count_jobs()
        want = expect["events_distinct"]
        ok = run.check(got == (want, want))
        run.ops.append(Op("drain", elapsed, ok, expect["events_delivered"]))

    def probe_sink_bug(self, run: Run) -> int:
        """Rows ``write_monthly_sink`` loses when one month spans two
        micro-batches (NOTES.md, open bug). Untimed; not an operation
        of the workload."""
        _, (rows, _) = self._stream(run, self.inputs["events_one_month"], "probe")
        return self.inputs["expect"]["events_one_month"] - rows

    def _consume(self, run: Run) -> None:
        from flirt_consume_spark.io import read_csv, write_partitioned
        from flirt_consume_spark.plans.consume import consume_schedules
        from flirt_consume_spark.schemas import AIRPORTS, SCHEDULES

        spark, tr = run.spark, run.tracer
        t0 = time.perf_counter()
        with tr.span("io.read_csv") as rd:
            sched = read_csv(spark, self.inputs["schedules"], SCHEDULES)
            airports = read_csv(spark, self.inputs["airports"], AIRPORTS)
        with tr.span("plans.consume"):
            legs, unknown = consume_schedules(sched, airports)
        with tr.span("io.write") as wr:
            write_partitioned(legs, self.legs_path, ("month_key",))
        elapsed = time.perf_counter() - t0
        expect = self.inputs["expect"]
        self.legs = spark.read.parquet(self.legs_path)
        n_legs = self.legs.count()
        n_unknown = unknown.count()
        if rd is not None:
            tr.count_jobs()
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(self.legs_path)
                for f in fs
                if f.endswith(".parquet")
            ]
            run.add("io.read_csv.s", rd["end"] - rd["start"])
            run.add("io.write.s", wr["end"] - wr["start"])
            run.add("io.write.files", len(files))
            run.add("io.write.bytes", sum(os.path.getsize(f) for f in files))
            run.add("consume.legs", n_legs)
            run.add("consume.expand_ratio", n_legs / expect["valid_schedules"])
            run.add("consume.unknown", n_unknown)
        ok = n_legs == expect["legs"] and n_unknown == expect["unknown"]
        run.ops.append(Op("consume", elapsed, run.check(ok), n_legs))

    def _lookup(self, run: Run, origin: str, start: str, end: str) -> None:
        from flirt_consume_spark.plans.consume import destination_distribution

        t0 = time.perf_counter()
        with run.tracer.span("lookup", origin) as sp:
            rows = destination_distribution(self.legs, origin, start, end).collect()
        elapsed = time.perf_counter() - t0
        if sp is not None:
            run.tracer.count_jobs()
            run.add("lookup.s", elapsed)
            run.add("lookup.jobs", sp["jobs"])
        want = datagen.lookup_reference(self.inputs["legs"], origin, start, end)
        ok = len(rows) == len(want) and all(
            r["dest"] == d and r["seats"] == s and math.isclose(r["probability"], p, abs_tol=1.5e-6)
            for r, (d, s, p) in zip(rows, want)
        )
        run.ops.append(Op("lookup", elapsed, run.check(ok)))


WORKLOADS = {
    "queries": lambda: QueryWorkload(QUERY_KEYS),
    "ingest": IngestWorkload,
}
