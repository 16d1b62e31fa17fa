"""Physical-plan audit across every registered query key.

For each key, compiles the plan (no execution) and reports the
structures that matter at 100 TB: shuffle count, join strategies,
whole-stage-codegen spans, parquet pushdown, and red flags
(CartesianProduct, BroadcastNestedLoopJoin on large sides,
partition-less window sorts).

Usage: python tools/audit_plans.py [--sf DIR] [keys...]
Exit 1 if any red flag fires outside the declared allowlist.

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
    # knn probes broadcast ~10 query vectors against the corpus — the
    # nested-loop is over a 10-row broadcast side, by design.
    "llm_knn": {"nested_loop"},
    # recall eval reuses knn_exact's 10-row query broadcast (same
    # justification as llm_knn) for the exact side of the comparison.
    "emb_recall_eval": {"nested_loop"},
    # planted-recall sibling: same knn_exact 10-row query broadcast;
    # the whole planted table is 120 synthetic rows by construction.
    "emb_recall_planted": {"nested_loop"},
    # the rank-over-50-rows windows after a TakeOrdered cut.
    "llm_vocab": {"single_partition_window"},
    "topk": {"single_partition_window"},
    # Theta self-join over the 25-row nation dim: the nested loop's
    # broadcast side is the whole (tiny) table.
    "geo_haversine": {"nested_loop"},
    # Deliberate tiny-broadcast cross products: every vector meets a
    # constant-size side (10 centroids / the hyperplane set / 16 bit
    # positions) — the scan side never shuffles.
    "llm_ann_ivf": {"nested_loop"},
    "llm_ann_lsh": {"nested_loop"},
    "llm_embed_dedup": {"nested_loop"},
    # Same constant-size hyperplane build (8×64 crossJoin) feeding the
    # shared LSH bucket index that generates the banded candidates.
    "join_similarity": {"nested_loop"},
    "llm_simhash": {"nested_loop"},
    "win_ntile": {"nested_loop"},
    # Normalizing total as SUM(...) OVER () — a window over ≤5
    # segment rows (the one-pass shape destination_distribution plans).
    "sql_distribution": {"single_partition_window"},
    # Global-order window over a bounded input, documented as surface
    # coverage (llm_editdist: adjacent-pair verify over a 200-doc
    # slice).
    "llm_editdist": {"single_partition_window"},
    # nested_loop: 1-row corpus-count broadcast for the idf (the
    # lazy-scalar shape). single_partition_window
    # is a heuristic false positive here: the flag can't associate
    # nodes, and this plan contains BOTH a scalar count (whose final
    # agg is legitimately SinglePartition, 1 row) AND a window that is
    # hash-partitioned by doc_id — no partition-less window exists
    # (verified by reading the formatted plan).
    "llm_tfidf": {"nested_loop", "single_partition_window"},
    # 1-row min/max bounds broadcast for the Z-curve quantization.
    "sink_zorder": {"nested_loop"},
    # Heuristic false positive, same shape as llm_tfidf: the plan has
    # BOTH a user_id-hashpartitioned Window (verified in the formatted
    # plan) AND a legitimately-SinglePartition 1-row final aggregate;
    # the flag cannot associate the two nodes.
    "funnel_steps": {"nested_loop", "single_partition_window"},
    "win_pattern": {"single_partition_window"},
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
    # llm_tfidf/funnel_steps heuristic false positive: the plan holds
    # BOTH a lang-hashpartitioned Window (verified in the formatted
    # plan: Exchange hashpartitioning(lang) feeds it) AND the count
    # agg's legitimate 1-row SinglePartition exchange.
    "sample_mixture": {"nested_loop", "single_partition_window"},
    # The per-bucket prefix max is a broadcast triangular join over
    # the |buckets|-row maxima table — constant in data size, the
    # same shape as sort_global's offset prefix-sum.
    "pareto_frontier": {"nested_loop"},
    # nested_loop: the 1-row grand-total broadcast for the class
    # boundaries plus global_cumsum's triangular (pid → offset) join —
    # both constant-size sides (sort_global shape).
    # single_partition_window is the llm_tfidf heuristic false
    # positive: the plan holds BOTH the total's legitimate 1-row
    # SinglePartition agg AND a window hash-partitioned by _pid
    # (verified in the formatted plan: windowspecdefinition(_pid, ...)).
    "agg_abc": {"nested_loop", "single_partition_window"},
    # Four (1-row n_rows) × (1-row n_orphans) cross products — the
    # report assembly, constant size.
    "audit_fk": {"nested_loop"},
    # 1-row (N, total_dl) corpus-stats broadcast for the idf/avgdl
    # arithmetic — the same lazy-scalar shape as llm_tfidf.
    "bm25_rank": {"nested_loop"},
    # global_cumsum's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "agg_concurrency": {"nested_loop"},
    # 1-row bigram-total broadcast for the lift denominator — the
    # lazy-scalar shape (llm_tfidf/bm25_rank).
    "llm_collocations": {"nested_loop"},
    # global_rank's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    # single_partition_window (r12): the grouped_rank
    # _guard_group_count lazy guard — a count window over the tiny
    # per-(pid, group) offsets frame, bounded by the broadcast
    # contract (raise_error fires otherwise); same allowance as the
    # other grouped_rank consumers below.
    "agg_gini": {"nested_loop", "single_partition_window"},
    # 1-row pooled-moments broadcast (n, Σx, Σy, Σxy, Σx²) joined to
    # the per-arm rows — the lazy-scalar shape.
    "agg_cuped": {"nested_loop"},
    # 1-row total-count broadcast for the digit shares — lazy scalar.
    "audit_benford": {"nested_loop"},
    # 1-row max-abs broadcast for the final iterate normalization —
    # lazy scalar over the constant-size (dim) vector.
    "emb_power_iteration": {"nested_loop"},
    # 1-row pooled-sigma broadcast for the 3σ flags — lazy scalar.
    "time_seasonal": {"nested_loop"},
    # nested_loop: 1-row mean + 1-row peak broadcasts plus
    # global_cumsum's triangular offsets join (all constant-size).
    # single_partition_window is the llm_tfidf heuristic false
    # positive: the plan holds the legitimately-SinglePartition 1-row
    # scalar aggs AND a window hash-partitioned by _pid.
    "time_cusum": {"nested_loop", "single_partition_window"},
    # nested_loop: the 1-row (n_f, n_o, n_p) totals broadcast crossed
    # into the ECDF rows + global_cumsum's triangular (pid → offset)
    # join — both constant-size sides (sort_global shape).
    # single_partition_window is the llm_tfidf heuristic false
    # positive: the plan holds the legitimate 1-row SinglePartition
    # scalar aggs AND a window hash-partitioned by _pid.
    "audit_ks": {"nested_loop", "single_partition_window"},
    # 1-row grand-total broadcast crossed into the O(cells)
    # contingency frame — the lazy-scalar shape (audit_benford).
    "audit_chisq": {"nested_loop"},
    # global_rank's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "sample_systematic": {"nested_loop"},
    # 1-row max-abs broadcast normalizing the 64-row direction —
    # the same lazy-scalar shape emb_power_iteration declares.
    "emb_pca_project": {"nested_loop"},
    # Same two findings as audit_ks, same justification: nested_loop
    # is global_cumsum's triangular (pid → offset) broadcast join
    # (constant-size side); single_partition_window is the heuristic
    # false positive — the plan holds the legitimate 1-row
    # SinglePartition final agg AND a window hash-partitioned by _pid.
    "audit_mannwhitney": {"nested_loop", "single_partition_window"},
    # global_cumsum's triangular (pid → offset) broadcast join —
    # num_partitions rows, constant in data size (sort_global shape).
    "quota_budget_select": {"nested_loop"},
    # nested_loop: global_cumsum's triangular offsets join + the
    # 1-row total broadcast (audit_ks shape). single_partition_window
    # is the llm_tfidf heuristic false positive (legitimate 1-row
    # scalar aggs + a _pid-hashpartitioned window in the same plan);
    # the curve-packing collect itself aggregates a BOUNDED table
    # (one row per distinct whole-day duration).
    "time_survival": {"nested_loop", "single_partition_window"},
    # Same audit_ks shape: nested_loop = global_cumsum's triangular
    # offsets join + the 1-row positives-total broadcast;
    # single_partition_window = the heuristic false positive
    # (legitimate 1-row scalar aggs + a _pid-partitioned window).
    "eval_pr_curve": {"nested_loop", "single_partition_window"},
    # Same audit_ks/mannwhitney shape (one multi-counter cumsum +
    # 1-row scalar aggs): triangular offsets broadcast + the
    # heuristic window false positive.
    "eval_auc": {"nested_loop", "single_partition_window"},
    # 7-row lag table cross-joined into the bounded daily series —
    # constant-size broadcast side by construction.
    "time_crosscorr": {"nested_loop"},
    # Trend tests (queries/trend.py): all pairwise structure runs on
    # the calendar-bounded monthly series (≤~100 rows after the first
    # hash agg) — the i<j pair join and the 1-row n/ties broadcasts
    # are constant-size nested loops by construction (time_crosscorr
    # shape).
    "time_theilsen": {"nested_loop"},
    "time_mannkendall": {"nested_loop"},
    # Same bounded-series nested loops, plus global_cumsum's
    # triangular (pid → offset) broadcast join; the window flag is
    # the llm_tfidf heuristic false positive (verified: both Windows
    # are windowspecdefinition(_pid, m) — no partition-less window).
    "time_pettitt": {"nested_loop", "single_partition_window"},
    # 1-row order-count broadcast into the ≤C(25,2)-row brand-pair
    # frame (lazy-scalar shape).
    "agg_basket_pairs": {"nested_loop"},
# (agg_weighted_median left the allowlist in round 7: the two-level
# bucketized_weighted_quantile rewrite has no triangular joins, no
# scary nodes — it audits clean.)
    # grouped_rank/grouped_cumsum call sites (operators/scale.py):
    # the triangular (pid → offset) broadcast join inside
    # global_rank/global_cumsum — num_partitions rows, constant in
    # data size (sort_global shape). The per-group offset join itself
    # is a plain broadcast hash join over the bounded group table.
    # single_partition_window (added r7) is the bounded-cardinality
    # GUARD inside _guard_group_count: a count window over the
    # per-group offsets frame — ≤ max_groups rows when the contract
    # holds (raise_error fires otherwise), never over data-sized
    # input. The data-sized window these keys replaced is exactly
    # what grouped_rank exists to avoid.
    "win_cume": {"nested_loop", "single_partition_window"},
    "win_distribution": {"nested_loop", "single_partition_window"},
    "pack_sequences": {"nested_loop", "single_partition_window"},
    "time_downsample": {"nested_loop", "single_partition_window"},
    # grouped_percentiles (round-7 rewrite of the exact-percentile
    # keys off the buffer-everything F.percentile aggregate): rides
    # grouped_rank and guards its per-group count frame the same way,
    # so both keys that call it carry exactly the two nodes above.
    "agg_percentile": {"nested_loop", "single_partition_window"},
    "agg_winsorize": {"nested_loop", "single_partition_window"},
}


import re


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit(key: str, df) -> dict:
    p = _explain(df, "formatted")
    flags = set()
    if "CartesianProduct" in p:
        flags.add("cartesian")
    if "BroadcastNestedLoopJoin" in p:
        flags.add("nested_loop")
    # A Window evaluated over a single partition serializes the stage.
    # Requires an actual Window node: a SinglePartition exchange alone
    # is also the (fine, 1-row) shape of every scalar aggregate.
    if (
        "Arguments: SinglePartition" in p
        and re.search(r"^\(\d+\) Window", p, re.M)
        and "TakeOrderedAndProject" not in p
    ):
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
    n_bad = 0
    metrics: dict[str, dict] = {}
    for key in args.keys or sorted(REGISTRY):
        try:
            res = audit(key, REGISTRY[key].fn(spark, args.sf))
            metrics[key] = {m: res[m] for m in _METRIC_KEYS}
        except Exception as e:  # noqa: BLE001
            res = {"key": key, "error": f"{type(e).__name__}: {e}"}
        if res.get("unexpected") or "error" in res:
            n_bad += 1
        print(json.dumps(res))
    print(f"# {n_bad} keys with unexpected plan flags")
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
