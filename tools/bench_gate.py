"""Noise-normalized 2x bench gate against the frozen sf0.1 baseline.

The driver contract ("within 2x of BASELINE at the same scale factor",
BASELINE.json:2) was unanchored for nine rounds because the reference
publishes no numbers and its snapshot is empty (SURVEY.md S0). As of
round 10 the engine's own best-of solo runs are frozen per key in
``tools/baseline_sf01.json`` (protocol inside the file and in
BASELINE.md), and this gate makes the contract mechanically checkable.

Method. For a candidate full-bench artifact (default
``BENCH_FULL_latest.json``) compute per-key ratios

    r_k = candidate_median_k / baseline_median_k

Single-node wall clock on a shared host moves UNIFORMLY with ambient
load (BENCH_NOTES.md documents identical-plan control runs at 1.14x
and 1.455x), so raw ratios conflate host noise with real regressions.
The registry-wide MEDIAN of r_k estimates that uniform inflation: a
real regression moves one key, host noise moves all 272, and the
median tracks the crowd, not the outlier. The gate therefore flags

    r_k / max(1.0, median(r)) > threshold   (default 2.0)

The max(1.0, .) floor keeps the gate one-sided: a faster-than-baseline
host never *excuses* a key that is slower than 2x its frozen number
outright (deflation is not used to shrink ratios), while a slower host
is corrected for. Keys missing from the candidate fail the gate
(coverage loss); keys missing from the baseline (post-freeze
additions) are reported but pass, until the next freeze.

Min-rep fallback (round 12): when the artifact carries per-key best
reps (``queries_min``), a key fails only if BOTH its median AND its
best rep exceed the normalized threshold — a transient load spike can
inflate the median of 3 reps without the crowd host factor seeing it,
but it cannot make a genuinely-regressed key produce a fast rep. See
``evaluate`` for the full rationale.

Usage:
    python tools/bench_gate.py [--artifact BENCH_FULL_latest.json]
                               [--baseline tools/baseline_sf01.json]
                               [--threshold 2.0] [--top 10]

Exit 0 = every baseline key present and within the normalized 2x
bound; exit 1 otherwise. Wired into the round-close checklist next to
tools/check.py and tools/audit_plans.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: Host-inflation credit is capped here: identical-plan control runs
#: measured ambient swings of 1.14x-1.455x (BENCH_NOTES.md), so a
#: median ratio beyond this is not plausibly host noise — it means a
#: GLOBAL regression (session config, Spark upgrade, a shared operator)
#: slowed most of the registry, which the median would otherwise absorb.
HOST_FACTOR_CAP = 1.6


def evaluate(
    candidate: dict[str, float],
    baseline: dict[str, float],
    threshold: float = 2.0,
    candidate_min: dict[str, float] | None = None,
) -> dict:
    """Pure gate logic (unit-tested): returns the verdict structure.

    ``candidate_min`` (the artifact's per-key best rep, ``queries_min``)
    adds a min-rep fallback (round-12, VERDICT r11 task 2): a key is
    flagged only when BOTH its median-rep AND its best-rep normalized
    ratios exceed the threshold. Rationale: on a loaded shared host the
    MEDIAN of 3 reps can absorb a transient spike that the registry-wide
    host factor (a median over keys, not over reps) cannot see — the
    driver's post-r11-close artifact had agg_abc at 2.39x normalized
    median while its best rep sat at 1.23x raw, a contention signature,
    not a plan change. A real regression moves every rep, so requiring
    the BEST rep to also breach keeps the gate sound: a genuinely 2x
    slower key cannot produce a fast rep at will, while one noisy rep
    among three no longer fails the round. Both sides are normalized by
    the same crowd host factor; min ratios use the same frozen MEDIAN
    denominator (the min is already the candidate's most favorable
    number — giving it the smaller frozen-min denominator too would
    double-credit it). Keys absent from ``candidate_min`` fall back to
    the median-only rule."""
    bad_baseline = sorted(k for k, v in baseline.items() if v <= 0)
    if bad_baseline:
        # A zero/negative frozen median would silently exempt the key
        # from every future ratio check — corrupt freeze, hard error.
        raise ValueError(
            f"bench_gate: baseline medians must be > 0; bad: {bad_baseline}"
        )
    missing = sorted(k for k in baseline if k not in candidate)
    new_keys = sorted(k for k in candidate if k not in baseline)
    # bench.py records a key that errored on every rep as -1.0; a
    # negative ratio would sail UNDER any threshold, so an erroring
    # key must fail the gate like a missing one, not pass silently.
    failed = sorted(k for k in baseline if k in candidate and candidate[k] <= 0)
    shared = [k for k in baseline if k in candidate and candidate[k] > 0]
    ratios = {k: candidate[k] / baseline[k] for k in shared}
    host_factor = statistics.median(ratios.values()) if ratios else 1.0
    host_capped = host_factor > HOST_FACTOR_CAP
    denom = min(max(1.0, host_factor), HOST_FACTOR_CAP)
    normalized = {k: r / denom for k, r in ratios.items()}
    min_normalized = {
        k: candidate_min[k] / baseline[k] / denom
        for k in shared
        if candidate_min is not None and k in candidate_min
    }
    rescued = {}
    over = {}
    for k in sorted(normalized, key=normalized.get, reverse=True):
        if normalized[k] <= threshold:
            continue
        detail = {
            "candidate_sec": candidate[k],
            "baseline_sec": baseline[k],
            "raw_ratio": round(ratios[k], 3),
            "normalized_ratio": round(normalized[k], 3),
        }
        if k in min_normalized:
            detail["min_normalized_ratio"] = round(min_normalized[k], 3)
            if min_normalized[k] <= threshold:
                # Median breached but the best rep is fine: transient
                # host contention on some reps, not a plan regression.
                rescued[k] = detail
                continue
        over[k] = detail
    return {
        "n_compared": len(shared),
        "host_factor": round(host_factor, 4),
        "host_factor_capped": host_capped,
        "threshold": threshold,
        "missing_keys": missing,
        "failed_keys": failed,
        "new_keys": new_keys,
        "over_threshold": over,
        "min_rep_rescued": rescued,
        "ok": not missing and not failed and not over,
        "normalized": normalized,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--artifact", default=os.path.join(REPO, "BENCH_FULL_latest.json")
    )
    ap.add_argument(
        "--baseline", default=os.path.join(REPO, "tools", "baseline_sf01.json")
    )
    ap.add_argument("--threshold", type=float, default=2.0)
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()

    with open(args.artifact) as fh:
        art = json.load(fh)
    with open(args.baseline) as fh:
        base = json.load(fh)

    # The contract is "within 2x of BASELINE at the SAME scale factor"
    # (BASELINE.json:2): ratios of an artifact benched at a different
    # sf against the frozen sf0.1 medians are not defined by the gate
    # at all (fixed session overhead dominates small-sf numbers, so
    # they'd read as garbage multiples, not regressions). The driver
    # overwrites BENCH_FULL_latest.json with whichever leg it ran
    # last — refuse the comparison loudly instead of mis-gating it.
    art_sf = os.path.basename(str(art.get("sf", "")).rstrip("/"))
    base_sf = os.path.basename(
        str(base.get("protocol", {}).get("sf_dir", "")).rstrip("/")
    )
    if art_sf and base_sf and art_sf != base_sf:
        print(
            f"bench_gate: NOT APPLICABLE — artifact benched at {art_sf} "
            f"but baseline frozen at {base_sf}; the 2x contract is "
            "same-scale-factor only. No verdict."
        )
        return 0
    # The same holds across masters: the driver benches local[32] and
    # local[8] legs into the same file, and per-key medians of one
    # core count are no reference for the other.
    art_master = art.get("master")
    base_master = base.get("protocol", {}).get("master")
    if art_master and base_master and art_master != base_master:
        print(
            f"bench_gate: NOT APPLICABLE — artifact benched on {art_master} "
            f"but baseline frozen on {base_master}; the 2x contract is "
            "same-protocol only. No verdict."
        )
        return 0

    res = evaluate(
        art["queries"],
        base["median"],
        args.threshold,
        candidate_min=art.get("queries_min"),
    )
    normalized = res.pop("normalized")
    worst = sorted(normalized, key=normalized.get, reverse=True)[: args.top]
    capped = (
        f" CAPPED at {HOST_FACTOR_CAP} (median beyond plausible host "
        "noise -> treated as a global regression, not inflation)"
        if res["host_factor_capped"]
        else ""
    )
    print(
        f"bench_gate: {res['n_compared']} keys compared, host_factor="
        f"{res['host_factor']} (median raw ratio vs frozen baseline)"
        f"{capped}, threshold={args.threshold}"
    )
    for k in worst:
        flag = " OVER" if k in res["over_threshold"] else ""
        print(
            f"  {k}: {art['queries'][k]:.3f}s vs {base['median'][k]:.3f}s "
            f"baseline -> normalized {normalized[k]:.2f}x{flag}"
        )
    if res["min_rep_rescued"]:
        print(
            "min-rep rescued (median over threshold, best rep within — "
            "contention, not regression):"
        )
        print(json.dumps(res["min_rep_rescued"], indent=1))
    if res["missing_keys"]:
        print(f"MISSING from artifact: {res['missing_keys']}")
    if res["failed_keys"]:
        print(f"ERRORED in artifact (median <= 0): {res['failed_keys']}")
    if res["new_keys"]:
        print(f"new keys (no frozen baseline, pass until next freeze): {res['new_keys']}")
    print(
        json.dumps(
            {
                k: v
                for k, v in res.items()
                if k not in ("over_threshold", "min_rep_rescued")
            }
            | {"min_rep_rescued_keys": sorted(res["min_rep_rescued"])}
        )
    )
    if res["over_threshold"]:
        print("OVER-THRESHOLD DETAIL:")
        print(json.dumps(res["over_threshold"], indent=1))
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
