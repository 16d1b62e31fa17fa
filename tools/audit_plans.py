"""Physical-plan audit across every registered query key.

For each key, compiles the plan (no execution) and reports the
structures that matter at 100 TB: shuffle count, join strategies,
whole-stage-codegen spans, parquet pushdown, and red flags
(CartesianProduct, BroadcastNestedLoopJoin on large sides,
partition-less window sorts).

Usage: python tools/audit_plans.py [--sf DIR] [keys...]
Exit 1 if any red flag fires outside the declared allowlist, or if an
allowlisted flag no longer fires on its key (a stale allowance would
let that flag come back unreviewed).

Plan-regression detection (round 9): the per-key structural metrics
(exchange / broadcast-hash-join / sort-merge-join counts, pushdown)
are snapshot to a committed artifact and diffed per round —
an exchange-count increase on an unchanged key is an accidental extra
shuffle, the class of regression a total-seconds bench can hide
inside noise at sf0.1 but that costs real money at 100 TB.

  python tools/audit_plans.py --snapshot PLAN_METRICS.json   # refresh
  python tools/audit_plans.py --diff PLAN_METRICS.json       # gate

--diff exits 1 if any key's exchange count GREW versus the snapshot
(new keys and improvements are reported but pass); refresh the
snapshot in the same commit as an intentional plan change so the diff
stays a one-line gate in the round-close checklist.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.session import get_spark

# Keys where a nominally-scary node is the declared, documented plan.
ALLOW = {
    # Q11 shape: the HAVING-over-global-total scalar subquery is a
    # 1-row broadcast (total + count of the per-part agg) cross-joined
    # into the per-part frame — constant-size side, by design.
    "shape_important_stock": {"nested_loop"},
    # O1 global rank (operators/scale.global_rank): the per-partition
    # offset prefix-sum is a broadcast triangular self-join over the
    # (pid, count) table — num_partitions rows, constant in data size.
    # Same for W6, which adds a 1-row broadcast total for the ntile
    # formula. Neither plan serializes any data-sized stage.
    "sort_global": {"nested_loop"},
    "win_ntile": {"nested_loop"},
    # knn probes broadcast ~10 query vectors against the corpus — the
    # nested-loop is over a 10-row broadcast side, by design.
    "llm_knn": {"nested_loop"},
    # recall eval reuses knn_exact's 10-row query broadcast (same
    # justification as llm_knn) for the exact side of the comparison.
    "emb_recall_eval": {"nested_loop"},
    # planted-recall sibling: same knn_exact 10-row query broadcast;
    # the whole planted table is 120 synthetic rows by construction.
    "emb_recall_planted": {"nested_loop"},
    # Theta self-join over the 25-row nation dim: the nested loop's
    # broadcast side is the whole (tiny) table.
    "geo_haversine": {"nested_loop"},
    # Deliberate tiny-broadcast cross product: every vector meets the
    # 10 centroids — the scan side never shuffles.
    "llm_ann_ivf": {"nested_loop"},
    # Normalizing total as SUM(...) OVER () — a window over ≤5
    # segment rows (the one-pass shape destination_distribution plans).
    "sql_distribution": {"single_partition_window"},
    # Global-order window over a bounded input, documented as surface
    # coverage (llm_editdist: adjacent-pair verify over a 200-doc
    # slice).
    "llm_editdist": {"single_partition_window"},
    # 1-row corpus-count broadcast for the idf (the lazy-scalar shape).
    "llm_tfidf": {"nested_loop"},
    # The rank window over the 50 rows a TakeOrderedAndProject cut
    # leaves.
    "llm_vocab": {"single_partition_window"},
    # 1-row min/max bounds broadcast for the Z-curve quantization.
    "sink_zorder": {"nested_loop"},
    # 1-row min/max bounds broadcast for bucket assignment.
    "agg_histogram": {"nested_loop"},
    # The dense bloom bitmap rides ONE broadcast row into a
    # nested-loop (cross) join — constant size by construction
    # (n_words longs), the same lazy-scalar shape as sink_zorder.
    "join_bloom": {"nested_loop"},
    # Final (n_edges × n_triangles) assembly: two 1-row aggregates
    # cross-joined into the single output row.
    "graph_triangles": {"nested_loop"},
    # nested_loop: 1-row corpus-total broadcast for the quota
    # arithmetic (lazy-scalar shape). single_partition_window is the
    # grouped_rank _guard_group_count count window over the per-lang
    # offsets frame (see win_cume below).
    "sample_mixture": {"nested_loop", "single_partition_window"},
    # The per-bucket prefix max is a broadcast triangular join over
    # the |buckets|-row maxima table — constant in data size, the
    # same shape as sort_global's offset prefix-sum.
    "pareto_frontier": {"nested_loop"},
    # The 1-row grand-total broadcast for the class boundaries plus
    # global_cumsum's triangular (pid → offset) join — both
    # constant-size sides (sort_global shape).
    "agg_abc": {"nested_loop"},
    # 1-row (N, total_dl) corpus-stats broadcast for the idf/avgdl
    # arithmetic — the same lazy-scalar shape as llm_tfidf.
    "bm25_rank": {"nested_loop"},
    # global_cumsum's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "agg_concurrency": {"nested_loop"},
    # 1-row bigram-total broadcast for the lift denominator — the
    # lazy-scalar shape (llm_tfidf/bm25_rank).
    "llm_collocations": {"nested_loop"},
    # The grouped_rank _guard_group_count lazy guard — a count window
    # over the tiny per-(pid, group) offsets frame, bounded by the
    # broadcast contract (raise_error fires otherwise); same allowance
    # as the other grouped_rank consumers below.
    "agg_gini": {"single_partition_window"},
    # 1-row pooled-sigma broadcast for the 3σ flags — lazy scalar.
    "time_seasonal": {"nested_loop"},
    # The 1-row (n_f, n_o, n_p) totals broadcast crossed into the ECDF
    # rows + global_cumsum's triangular (pid → offset) join — both
    # constant-size sides (sort_global shape).
    "audit_ks": {"nested_loop"},
    # global_rank's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "sample_systematic": {"nested_loop"},
    # Same as audit_ks: global_cumsum's triangular (pid → offset)
    # broadcast join (constant-size side).
    "audit_mannwhitney": {"nested_loop"},
    # global_cumsum's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "quota_budget_select": {"nested_loop"},
    # Same audit_ks shape: global_cumsum's triangular offsets join +
    # the 1-row positives-total broadcast.
    "eval_pr_curve": {"nested_loop"},
    "eval_auc": {"nested_loop"},
    # 7-row lag table cross-joined into the bounded daily series —
    # constant-size broadcast side by construction.
    "time_crosscorr": {"nested_loop"},
    # Trend tests (queries/trend.py): all pairwise structure runs on
    # the calendar-bounded monthly series (≤~100 rows after the first
    # hash agg) — the pair joins and the 1-row n/ties broadcasts are
    # constant-size nested loops by construction (time_crosscorr
    # shape).
    "time_theilsen": {"nested_loop"},
    "time_mannkendall": {"nested_loop"},
    "time_pettitt": {"nested_loop", "single_partition_window"},
    # Totals, running sums and peaks as windows over a frame of fixed
    # size coalesced to one partition: 15 contingency cells (chisq),
    # 9 digits (benford), 2 arms (cuped), ~80 months (pettitt, above),
    # 30 days (cusum), 64 dimensions (power iteration, pca).
    "audit_chisq": {"single_partition_window"},
    "audit_benford": {"single_partition_window"},
    "agg_cuped": {"single_partition_window"},
    "time_cusum": {"single_partition_window"},
    "emb_power_iteration": {"single_partition_window"},
    "emb_pca_project": {"single_partition_window"},
    # 1-row order-count broadcast into the ≤C(25,2)-row brand-pair
    # frame (lazy-scalar shape).
    "agg_basket_pairs": {"nested_loop"},
    # grouped_rank/grouped_cumsum call sites (operators/scale.py):
    # single_partition_window is the bounded-cardinality GUARD inside
    # _guard_group_count: a count window over the per-group offsets
    # frame — ≤ max_groups rows when the contract holds (raise_error
    # fires otherwise), never over data-sized input. The data-sized
    # window these keys replaced is exactly what grouped_rank exists
    # to avoid. pack_sequences also keeps global_cumsum's triangular
    # (pid → offset) broadcast join — num_partitions rows, constant
    # in data size (sort_global shape).
    "win_cume": {"single_partition_window"},
    "win_distribution": {"single_partition_window"},
    "pack_sequences": {"nested_loop", "single_partition_window"},
    "time_downsample": {"single_partition_window"},
    # grouped_percentiles (the exact-percentile keys): rides
    # grouped_rank and guards its per-group count frame the same way.
    "agg_percentile": {"single_partition_window"},
    "agg_winsorize": {"single_partition_window"},
}


import re


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


_WINDOW_ARGS = r"^\(\d+\) Window\nInput \[\d+\]: .*\nArguments: (.*)$"


def audit(key: str, df) -> dict:
    p = _explain(df, "formatted")
    flags = set()
    if "CartesianProduct" in p:
        flags.add("cartesian")
    if "BroadcastNestedLoopJoin" in p:
        flags.add("nested_loop")
    # A Window evaluated over a single partition serializes the stage:
    # any Window with no partition spec, whether Spark plans a
    # SinglePartition exchange below it or its input is coalesce(1)-ed.
    # Its arguments print as [window exprs], [partition spec], [order
    # spec], each list only when non-empty; an order spec ends in NULLS.
    for args in re.findall(_WINDOW_ARGS, p, re.M):
        n = args.count("], [")
        if n == 0 or n == 1 and args.endswith(("NULLS FIRST]", "NULLS LAST]")):
            flags.add("single_partition_window")
    return {
        "key": key,
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", p, re.M)),
        "bhj": len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)),
        "smj": len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)),
        # NOTE: whole-stage-codegen spans are not visible pre-execution
        # under AQE (isFinalPlan=false) — verified per-key manually via
        # df.explain() after an action, not audited here.
        "pushed_filters": "PushedFilters: [" in p
        and bool(re.search(r"PushedFilters: \[[^\]]", p)),
        "flags": sorted(flags),
        "unexpected": sorted(flags - ALLOW.get(key, set())),
        "stale": sorted(ALLOW.get(key, set()) - flags),
    }


_METRIC_KEYS = ("exchanges", "bhj", "smj", "pushed_filters")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("CHECK_SF", "/root/testdata/sf0.001"))
    ap.add_argument(
        "--snapshot",
        metavar="FILE",
        help="write per-key plan metrics to FILE (committed artifact)",
    )
    ap.add_argument(
        "--diff",
        metavar="FILE",
        help="compare per-key plan metrics against FILE; exit 1 if any "
        "key's exchange count grew (accidental extra shuffle)",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    spark = get_spark("plan-audit")
    n_unexpected = n_stale = n_bad = 0
    metrics: dict[str, dict] = {}
    for key in args.keys or sorted(REGISTRY):
        try:
            res = audit(key, REGISTRY[key].fn(spark, args.sf))
            metrics[key] = {m: res[m] for m in _METRIC_KEYS}
        except Exception as e:  # noqa: BLE001
            res = {"key": key, "error": f"{type(e).__name__}: {e}"}
        unexpected, stale = bool(res.get("unexpected")), bool(res.get("stale"))
        n_unexpected += unexpected
        n_stale += stale
        n_bad += unexpected or stale or "error" in res
        print(json.dumps(res))
    print(
        f"# {n_unexpected} keys with unexpected plan flags, {n_stale} with "
        f"stale allowances, {n_bad} failing"
    )
    if args.snapshot:
        with open(args.snapshot, "w") as fh:
            json.dump(metrics, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"# snapshot: {len(metrics)} keys -> {args.snapshot}")
    if args.diff:
        with open(args.diff) as fh:
            base = json.load(fh)
        grew, shrank, new = [], [], []
        for key, cur in metrics.items():
            old = base.get(key)
            if old is None:
                new.append(key)
            elif cur["exchanges"] > old["exchanges"]:
                grew.append(
                    f"{key}: exchanges {old['exchanges']} -> "
                    f"{cur['exchanges']}"
                )
            elif cur["exchanges"] < old["exchanges"]:
                shrank.append(
                    f"{key}: exchanges {old['exchanges']} -> "
                    f"{cur['exchanges']}"
                )
        for line in grew:
            print(f"# PLAN REGRESSION {line}")
        for line in shrank:
            print(f"# plan improved {line}")
        if new:
            print(f"# {len(new)} keys not in snapshot: {sorted(new)}")
        print(
            f"# plan diff vs {args.diff}: {len(grew)} regressed, "
            f"{len(shrank)} improved, {len(new)} new"
        )
        if grew:
            return 1
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
