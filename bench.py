"""Per-round benchmark: times every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {key: sec, ...}, "queries_min": {...},
   "queries_first": {...}, "sf": "..."}

"queries" is the per-key MEDIAN across reps; "queries_first" is the
rep-1 time. Every rep runs cold (the CacheManager is cleared before
each invocation, see below). Rep 1 still compiles each key's generated
classes; later reps reuse them, because `get_spark` sizes Spark's
codegen cache to hold the whole registry. The field stays so artifacts
from before round 13, when reps 2+ could hit session-cached
intermediates, remain comparable.

Materialization uses the noop sink (full execution on executors, no
driver-side row transfer), so timings measure the query plan, not
collect overhead.

Each key runs REPS times (default 3, $SPARK_GRAFT_BENCH_REPS) and
reports the per-key MEDIAN; single-shot timings proved unusable for
round-over-round comparison (round 3 showed 7.8x swings on unchanged
code from machine noise). Repetitions are interleaved — every key runs
once, then every key again — so a transient stall (GC pause, page-cache
eviction, competing process) lands in at most one rep of each key
instead of all reps of whichever key was unlucky.

Fast keys get EXTRA interleaved rounds (default 2 more, to 5 samples,
$SPARK_GRAFT_BENCH_SUBSEC_REPS total, for keys whose base median is
under $SPARK_GRAFT_BENCH_OVERSAMPLE_SEC = 2.0 s): at 3 samples their
documented ±30-50% run-to-run noise (BENCH_NOTES.md) made
round-over-round deltas unreadable (VERDICT r7 #6 named the sub-second
band; the two r7 misreads — agg_cms 1.04→1.55, anon_generalize
0.51→0.91 — straddle 1 s, so the threshold covers the 0-2 s band).
The per-key sample count ships in the full artifact as "reps_per_key".
(5 samples, not 7: each extra round costs ~2-2.5 min of wall at sf0.1
and the full run must stay comfortably inside the driver's per-round
budget — a 7-sample trial measured ~28 min total.)

Round 13 measurement-honesty change (disclosed in OPTIMIZATION_r13.md):
the CacheManager is now CLEARED before every invocation ("clear_cache"
in the JSON records it; there is no warm mode). Through r12, persisted
intra-query frames were silently re-served to later reps AND sibling
keys by CacheManager plan matching, so warm medians understated ~20
keys (llm_minhash_dedup median 0.05 s vs true cold 2.4 s). With
clearing, median ≈ queries_first by construction and every sample is
computed from the parquet inputs. Old artifacts keep the old numbers.

Round 13 also echoes the resolved parallelism contract in both JSON
lines (additive): "master", "default_parallelism",
"shuffle_partitions" — so the driver's lower-core scaling leg can
verify $SPARK_GRAFT_CPUS was honored (r12 PERF flagged
suspect_cpus_ignored on ambiguity alone).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.session import get_spark


def protocol_artifact_name(master: str) -> str:
    """File name of the full artifact for one Spark master:
    ``local[32]`` -> ``BENCH_FULL_local32.json``."""
    return f"BENCH_FULL_{re.sub(r'[^0-9A-Za-z]+', '', master)}.json"


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def time_invocation(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one cold invocation of ``fn(spark, sf_dir)``:
    the CacheManager is cleared before the clock starts, then the
    build and the noop write run inside it. ``main``,
    ``tools/solo_bench.py`` and ``tools/probe_scale.py`` time every key
    through this."""
    spark.catalog.clearCache()
    t0 = time.time()
    materialize(fn(spark, sf_dir))
    return time.time() - t0


def warmup(spark, sf_dir: str) -> None:
    """Untimed session warm-up: JVM/codegen init, parquet footer reads,
    and Python-worker pool spin-up (first Arrow exchange costs ~10s),
    so per-query timings measure steady-state plans, not init."""
    from flirt_consume_spark.io import load_table

    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, name).count()

    def ident(batches):
        yield from batches

    load_table(spark, sf_dir, "documents").limit(8).select(
        "doc_id"
    ).mapInPandas(ident, "doc_id long").count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    subsec_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_REPS", "5"))
    oversample_sec = float(
        os.environ.get("SPARK_GRAFT_BENCH_OVERSAMPLE_SEC", "2.0")
    )
    spark = get_spark("bench")
    warmup(spark, sf_dir)
    # Host-load context: round 9's mid-round run measured 242.7s vs
    # 167.0s on identical plans (per-key median ratio 1.455, uniform —
    # ambient contention, not regression). Recording loadavg lets a
    # reader normalize such episodes without cross-round forensics.
    load_start = os.getloadavg()
    t_start = time.time()
    samples: dict[str, list[float]] = {key: [] for key in sorted(REGISTRY)}

    def run_once(key: str) -> None:
        # Cold run: time_invocation clears the CacheManager before its
        # clock, so no rep and no sibling key is served from an earlier
        # invocation's persisted blocks.
        try:
            secs = time_invocation(spark, REGISTRY[key].fn, sf_dir)
            samples[key].append(secs)
        except Exception as e:  # noqa: BLE001
            samples[key].append(-1.0)
            print(
                f"# bench error {key}: {type(e).__name__}: {e}",
                file=sys.stderr,
            )

    for _rep in range(reps):
        for key in sorted(REGISTRY):
            run_once(key)
    import statistics

    # Extra interleaved rounds for fast keys only: cheap relative to
    # the full round and exactly where 3-sample medians were noisiest.
    def _median_ok(key: str) -> float:
        ok = [v for v in samples[key] if v >= 0]
        return statistics.median(ok) if ok else -1.0

    fast = [
        k for k in sorted(REGISTRY) if 0 <= _median_ok(k) < oversample_sec
    ]
    # Budget guard: oversampling is a precision luxury, never worth
    # risking the run's completion. If the base rounds already took
    # longer than the guard (degraded host, bigger sf), ship the
    # 3-sample medians instead of stretching the wall clock further.
    base_elapsed = time.time() - t_start
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500"))
    if base_elapsed > budget:
        print(
            f"# bench: base rounds took {base_elapsed:.0f}s > {budget:.0f}s"
            f" budget — skipping the extra fast-key rounds",
            file=sys.stderr,
        )
    else:
        for _rep in range(max(0, subsec_reps - reps)):
            for key in fast:
                run_once(key)

    timings: dict[str, float] = {}
    minimums: dict[str, float] = {}
    firsts: dict[str, float] = {}
    for key, vals in samples.items():
        ok = [v for v in vals if v >= 0]
        if ok:
            timings[key] = round(statistics.median(ok), 3)
            minimums[key] = round(min(ok), 3)
        else:
            timings[key] = -1.0
            minimums[key] = -1.0
        # Rep 1: see "queries_first" in the module docstring.
        firsts[key] = round(vals[0], 3) if vals and vals[0] >= 0 else -1.0
    assert len(timings) == len(REGISTRY), (
        f"bench covered {len(timings)} keys but REGISTRY holds "
        f"{len(REGISTRY)} — per-key coverage must never drift"
    )
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    # Echo the resolved parallelism contract (r12 VERDICT task 3): the
    # driver's scaling probe flagged suspect_cpus_ignored because the
    # JSON never showed whether $SPARK_GRAFT_CPUS was honored — at
    # sf0.1 most keys are fixed-overhead-bound, so an 8-core leg lands
    # near the 32-core wall time and a ratio ≈ 1 is ambiguous without
    # the resolved master/parallelism in the artifact.
    contract = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "clear_cache": True,
    }
    full = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": minimums,
        "queries_first": firsts,
        "sf": sf_dir,
        "n_queries": len(timings),
        "reps": reps,
        "reps_per_key": {k: len(v) for k, v in samples.items()},
        "wall_sec": round(time.time() - t_start, 1),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        **contract,
    }
    # Full per-key artifact: the driver's BENCH_r{N}.json keeps only a
    # 2000-char stdout tail, which truncates a 105-key JSON line and
    # loses per-key numbers.  Persist the complete payload to a file in
    # the repo (committed each round) so round-over-round comparison
    # never depends on the truncated tail. The protocol-named copy keeps
    # each master's numbers apart: a local[8] leg cannot overwrite the
    # local[32] artifact.
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("BENCH_FULL_latest.json", protocol_artifact_name(contract["master"])):
        full_path = os.path.join(here, name)
        try:
            with open(full_path, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError as e:
            print(f"# bench: could not write {full_path}: {e}", file=sys.stderr)
    print(json.dumps(full))
    # Compact summary LAST so it always fits inside the driver's stdout
    # tail and parses: total, key count, worst-5 keys, pointer to the
    # full artifact.
    worst = sorted(
        ((k, v) for k, v in timings.items() if v >= 0),
        key=lambda kv: -kv[1],
    )[:5]
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "queries": dict(worst),
                "sf": sf_dir,
                "n_queries": len(timings),
                "reps": reps,
                "errors": sorted(k for k, v in timings.items() if v < 0),
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "full": "BENCH_FULL_latest.json",
                **contract,
            }
        )
    )


if __name__ == "__main__":
    main()
