"""Solo per-key micro-bench for optimization work (round 12).

Times the given registry keys in one Spark session as bench.py does
(``bench.time_invocation``: clearCache, then build and noop write inside
the clock). Each key runs once first, reported as ``first`` and left out
of the N interleaved reps behind ``median``/``min``/``all``: a key's
first invocation in the session compiles its plan code and would
otherwise pull a cold run into the steady-state median. ``compiles``
counts the classes Spark's code generator compiled during a key's
timed reps (``CodegenMetrics``), so a per-call recompile shows as a
count, not only as time. Rep r starts
the key list at position r (mod the key count), so no key always
follows the same keys: its time would otherwise carry what they leave
behind in the session. It can
dump `.explain("formatted")` for each key to a directory — the raw
material for plans/r12/<key>_{before,after}.txt.

Usage:
    python tools/solo_bench.py --sf DIR [--reps N]
        [--explain-dir plans/r12 --suffix before] key [key ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    spark = get_spark("solo-bench")
    import bench

    bench.warmup(spark, args.sf)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for key in args.keys:
            df = REGISTRY[key].fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain_dir, f"{key}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"# wrote {path}", file=sys.stderr)

    if args.reps <= 0:
        return 0
    compile_count = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
    )
    samples: dict[str, list[float]] = {k: [] for k in args.keys}
    compiles = dict.fromkeys(args.keys, 0)
    n = len(args.keys)
    for rep in range(args.reps + 1):
        for key in args.keys[rep % n :] + args.keys[: rep % n]:
            spark.sparkContext.setJobDescription(f"solo:{key}")
            before = compile_count()
            samples[key].append(
                bench.time_invocation(spark, REGISTRY[key].fn, args.sf)
            )
            if rep:
                compiles[key] += compile_count() - before
            spark.sparkContext.setJobDescription(None)
    out = {}
    for key, (first, *vals) in samples.items():
        out[key] = {
            "first": round(first, 3),
            "median": round(statistics.median(vals), 3),
            "min": round(min(vals), 3),
            "all": [round(v, 3) for v in vals],
            "compiles": compiles[key],
        }
    print(json.dumps({"sf": args.sf, "loadavg": list(os.getloadavg()), "keys": out}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
