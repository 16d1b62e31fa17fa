"""Headroom probe: times registry keys at x1 on an sf directory and at
xN on a copy of that directory that holds N times the data.

A probe is a ``REGISTRY`` key: the code that ships, not a copy of it.
Each key is timed on ``--sf`` and on the multiplied copy, and the ratio
``xN / (x1 * N)`` says how its wall time grows with the data: near or
below 1 the plan scales by adding executors; well above 1 marks a
bottleneck. The probe reports what the shipping key does at xN, even
when that is superlinear.

The copy (``write_multiplied``) holds N copies of every table except
``region`` and ``nation``. Copy i shifts each key domain by i times
(max key + 1), so keys stay contiguous and every foreign key joins
within its copy: distinct keys and group counts grow with the rows.
Copies 1..N-1 of ``documents`` salt every word and of ``embeddings``
flip per-dimension signs, so a copy is never a near-duplicate of
another and pair-finding keys face N times the pairs, not N squared.

Usage: python tools/probe_scale.py --sf DIR [--mult N] [--only k1,k2]

Output, one JSON line each, per probe in ``PROBES`` order:
``{"probe": "<key>_x1", "sec": s}``, ``{"probe": "<key>_x<N>", "sec": s}``
and ``{"probe": "<key>_scaling", "ratio_vs_linear": r}``. A probe that
raises prints ``{"probe": ..., "error": ...}`` in place of its time and
the run goes on.

Measurement protocol: every timing is one cold invocation timed as
bench.py times a key (``bench.time_invocation``: clearCache, then build
and noop write inside the clock), so no probe is served another's
persisted frames. Each key runs once untimed at x1, then x1 and xN
are timed back to back. Numbers taken before the probe timed registry
keys came from hand-copied pipelines and are not comparable with these.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import bench
from flirt_consume_spark.io import load_table
from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.schemas import TABLES
from flirt_consume_spark.session import get_spark

# Heavy keys from every operator family: aggregation, joins, sorts,
# windows, text and embedding pipelines, iterative graph keys.
# ``lookup`` is the one probe that is not a key: no key runs the
# simulator read path ``plans.consume.destination_distribution``.
PROBES = (
    "agg_route", "join_colocated", "topk", "llm_minhash_dedup",
    "llm_repetition", "win_sessionize", "llm_chunk", "llm_contaminate",
    "join_bloom", "snapshot_diff", "sink_merge", "sink_zorder", "join_geo",
    "graph_pagerank", "emb_kmeans", "graph_triangles", "llm_rarity",
    "llm_inverted_index", "agg_bitmap_distinct", "join_setsim",
    "llm_dupspans", "agg_abc", "agg_concurrency", "agg_weighted_median",
    "agg_percentile", "agg_gini", "graph_ancestors", "emb_covariance",
    "join_similarity", "emb_power_iteration", "dedup_components_star",
    "shape_small_qty_revenue", "sql_recursive", "audit_ks",
    "time_interpolate", "graph_bfs_dist", "lookup", "sample_reservoir",
    "llm_gram_novelty", "audit_mannwhitney", "time_rle", "emb_pca_project",
    "llm_bpe_train", "time_holt", "llm_semdedup", "agg_basket_pairs",
    "graph_assortativity", "graph_node_jaccard", "win_bollinger",
    "graph_kcore", "llm_cross_dedup", "emb_mmr", "win_rank",
    "quota_per_source", "llm_corpus_pipeline", "audit_chisq",
    "audit_benford", "agg_cuped", "time_pettitt", "time_cusum",
)

# Key column -> key domain, per table. The columns of one domain shift
# together, so ``o_custkey`` still joins ``c_custkey`` in every copy.
KEY_DOMAINS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}


def _salt(i: int) -> str:
    """Copy i's word suffix: three letters, so salted words stay inside
    ``[a-z]`` for the keys that filter words on it, and two copies'
    words never coincide (the last three letters name the copy)."""
    return "".join(chr(ord("a") + i // 26 ** p % 26) for p in (2, 1, 0))


def _sign(d, i: int):
    """Copy i's sign for dimension ``d``: an orthogonal flip, so cosines
    within a copy are exactly those of copy 0."""
    h = F.md5(F.concat_ws("_", d.cast("string"), F.lit(str(i))))
    bit = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 2
    return F.when(bit == 1, -1.0).otherwise(1.0)


def _copy(
    df: DataFrame, table: str, i: int, strides: dict[str, int]
) -> DataFrame:
    for col, domain in KEY_DOMAINS[table].items():
        df = df.withColumn(col, F.col(col) + F.lit(i * strides[domain]))
    if i and table == "documents":
        df = df.withColumn(
            "text", F.regexp_replace("text", r"(\S+)", "$1" + _salt(i))
        ).withColumn("n_chars", F.length("text"))
    if i and table == "embeddings":
        df = df.withColumn(
            "embedding", F.transform("embedding", lambda x, d: x * _sign(d, i))
        )
    return df


def write_multiplied(
    spark: SparkSession, sf_dir: str, out_dir: str, n: int
) -> str:
    """Write the N-times copy of ``sf_dir`` to ``out_dir`` (see the
    module docstring), every table cast to ``schemas.TABLES``, and
    return ``out_dir``."""
    if not 1 <= n <= 26 ** 3:
        raise ValueError(f"--mult {n}: three salt letters name 1 to 26**3 copies")
    frames = {name: load_table(spark, sf_dir, name) for name in TABLES}
    strides: dict[str, int] = {}
    for table, cols in KEY_DOMAINS.items():
        top = frames[table].agg(*[F.max(c).alias(c) for c in cols]).first()
        for col, domain in cols.items():
            strides[domain] = max(strides.get(domain, 0), (top[col] or 0) + 1)
    for name, schema in TABLES.items():
        df = frames[name]
        if name in KEY_DOMAINS:
            copies = [_copy(df, name, i, strides) for i in range(n)]
            df = copies[0]
            for c in copies[1:]:
                df = df.unionByName(c)
        df = df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _lookup(n: int):
    """The simulator lookup over n times the schedules and airports;
    the one partition its normalizer window runs in holds one row per
    destination."""
    from flirt_consume_spark.plans.consume import (
        consume_schedules,
        destination_distribution,
        synth_airports,
        synth_schedules,
    )

    def fn(spark: SparkSession, _sf_dir: str) -> DataFrame:
        legs, _ = consume_schedules(
            synth_schedules(spark, n=500 * n, n_airports=50 * n),
            synth_airports(spark, 50 * n),
        )
        return destination_distribution(legs, "AAA", "2024-01-01", "2024-03-31")

    return fn


def _emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def _probe(spark: SparkSession, name: str, fns, dirs, n: int) -> None:
    """Print one probe's x1, xN and ratio lines, or the error of the run
    that raised. An untimed x1 run comes first: a key's first invocation
    in the session compiles its plan code, which would otherwise land on
    x1 alone and bias the ratio low."""
    probe = f"{name}_x1"
    try:
        bench.time_invocation(spark, fns[0], dirs[0])
        lo = bench.time_invocation(spark, fns[0], dirs[0])
        _emit({"probe": probe, "sec": round(lo, 2)})
        probe = f"{name}_x{n}"
        hi = bench.time_invocation(spark, fns[1], dirs[1])
        _emit({"probe": probe, "sec": round(hi, 2)})
    except Exception as e:  # noqa: BLE001 (report it; the next probe runs)
        traceback.print_exc()
        msg = (str(e).strip().splitlines() or [""])[0][:300]
        _emit({"probe": probe, "error": f"{type(e).__name__}: {msg}"})
        return
    ratio = round(hi / max(lo, 0.01) / n, 2)
    _emit({"probe": f"{name}_scaling", "ratio_vs_linear": ratio})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="sf directory timed at x1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--only", default="", help="comma-separated probes to run (default: all)"
    )
    args = ap.parse_args()
    only = {s.strip() for s in args.only.split(",") if s.strip()}
    unknown = sorted(only - set(PROBES))
    if unknown:
        ap.error(f"not probes: {unknown}")
    n = args.mult
    spark = get_spark("probe-scale")
    tmp = tempfile.mkdtemp(prefix="probe_scale_")
    try:
        base = os.path.basename(os.path.normpath(args.sf))
        big = write_multiplied(spark, args.sf, os.path.join(tmp, f"{base}_x{n}"), n)
        bench.warmup(spark, args.sf)
        for name in PROBES:
            if only and name not in only:
                continue
            if name == "lookup":
                fns = (_lookup(1), _lookup(n))
            else:
                fns = (REGISTRY[name].fn,) * 2
            _probe(spark, name, fns, (args.sf, big), n)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
