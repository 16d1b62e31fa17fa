"""Layer spans, Spark job counts and event-log folding, all from outside
the package.

A ``Tracer`` opens one span per call into a layer. Each span runs under
its own Spark job group, so ``statusTracker`` attributes jobs, stages
and tasks to exactly one span, and the event log's task metrics fold
back onto the same span by job group. Spans stay in memory and are
written once, when the run ends. A disabled tracer opens no spans and
touches no Spark state, which is how the untraced runs measure.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counted = 0

    @contextmanager
    def span(self, layer: str, key: str = "", pass_no: int = -1):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "key": key,
            "pass": pass_no,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], layer)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(outer["group"] if outer else IDLE_GROUP, "")

    def reset(self) -> None:
        self.spans.clear()
        self._counted = 0

    def count_jobs(self) -> None:
        """Attach job/stage/task counts to spans closed since the last
        call. Called between operations, outside every timed region."""
        st = self.sc.statusTracker()
        for rec in self.spans[self._counted:]:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    sinfo = st.getStageInfo(s)
                    if sinfo:
                        stages += 1
                        tasks += sinfo.numTasks
                        failed += sinfo.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, tasks_failed=failed)
        self._counted = len(self.spans)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def wrap_table_opens(tracer: Tracer) -> None:
    """Route every ``load_table`` call in the package through an
    ``io.open`` span, by rebinding the name in each module that
    imported it. The package itself is not edited."""
    import flirt_consume_spark.io as fio

    original = fio.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("io.open", key=name):
            return original(spark, sf_dir, name)

    for name, mod in list(sys.modules.items()):
        if name.startswith("flirt_consume_spark") and getattr(mod, "load_table", None) is original:
            mod.load_table = load_table


def fold_event_log(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum task metrics of the jobs whose group is in ``groups`` from
    Spark's uncompressed JSON event log."""
    stage_group: dict[int, str] = {}
    out = dict.fromkeys(
        ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s", "cpu_s", "run_s"),
        0.0,
    )
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>.
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", ()):
                        stage_group[s] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if stage_group.get(ev.get("Stage ID")) not in groups:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["run_s"] += m.get("Executor Run Time", 0) / 1e3
    return out


class StreamProgress:
    """A ``StreamingQueryListener`` that keeps every progress event and
    signals when a query terminates."""

    def __init__(self):
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self.terminated = threading.Event()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated.set()

        self.listener = Listener()

    def reset(self) -> None:
        self.progress = []
        self.terminated.clear()
