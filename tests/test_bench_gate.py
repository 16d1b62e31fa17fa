"""Unit tests for the noise-normalized bench gate (tools/bench_gate.py).

The gate anchors the driver's "within 2x of BASELINE" contract
(BASELINE.json:2) to the per-key sf0.1 numbers frozen in
tools/baseline_sf01.json; these tests pin its pure decision logic so a
future edit cannot silently change what "pass" means.
"""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_gate import HOST_FACTOR_CAP, evaluate  # noqa: E402


BASE = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 4.0, "e": 1.5}


def test_identical_run_passes():
    res = evaluate(dict(BASE), BASE)
    assert res["ok"]
    assert res["host_factor"] == 1.0
    assert res["over_threshold"] == {}
    assert res["missing_keys"] == [] and res["new_keys"] == []


def test_uniform_host_inflation_is_normalized_out():
    # Every key 1.4x slower — inside the plausible-noise band (control
    # runs measured up to 1.455x): the median divides ratios back to 1.0.
    cand = {k: v * 1.4 for k, v in BASE.items()}
    res = evaluate(cand, BASE)
    assert res["ok"]
    assert res["host_factor"] == pytest.approx(1.4)
    assert all(abs(r - 1.0) < 1e-9 for r in res["normalized"].values())


def test_single_key_regression_flagged_despite_quiet_host():
    cand = dict(BASE)
    cand["d"] = BASE["d"] * 2.5  # one real regression
    res = evaluate(cand, BASE)
    assert not res["ok"]
    assert list(res["over_threshold"]) == ["d"]
    # The crowd median stays ~1.0, so the regression is not excused.
    assert res["host_factor"] == pytest.approx(1.0)


def test_regression_still_flagged_under_host_noise():
    # 1.4x uniform noise AND one 3x-real regression: the median tracks
    # the crowd (1.4), the outlier normalizes to ~3.0/1.4 > 2.
    cand = {k: v * 1.4 for k, v in BASE.items()}
    cand["b"] = BASE["b"] * 3.0 * 1.4
    res = evaluate(cand, BASE)
    assert not res["ok"]
    assert list(res["over_threshold"]) == ["b"]


def test_deflation_floor_is_one_sided():
    # Host twice as fast as the freeze, but key 'a' is 2.6x its frozen
    # number outright. median(r) = 0.5 -> denom floors at 1.0, so the
    # raw 2.6 ratio is NOT shrunk by the fast host and must flag.
    cand = {k: v * 0.5 for k, v in BASE.items()}
    cand["a"] = BASE["a"] * 2.6
    res = evaluate(cand, BASE)
    assert res["host_factor"] < 1.0
    assert not res["ok"]
    assert list(res["over_threshold"]) == ["a"]


def test_missing_key_fails_and_new_key_passes():
    cand = {k: v for k, v in BASE.items() if k != "e"}
    cand["freshly_added"] = 9.9
    res = evaluate(cand, BASE)
    assert res["missing_keys"] == ["e"]
    assert res["new_keys"] == ["freshly_added"]
    assert not res["ok"]  # coverage loss fails
    # New keys alone do not fail:
    cand["e"] = BASE["e"]
    res2 = evaluate(cand, BASE)
    assert res2["ok"] and res2["new_keys"] == ["freshly_added"]


def test_global_regression_not_absorbed_into_host_factor():
    # Every key 3.5x slower is NOT host noise (control runs top out at
    # ~1.455x): the cap stops the median from laundering a global
    # regression — normalization divides by at most HOST_FACTOR_CAP,
    # so 3.5/1.6 ≈ 2.19 > 2 flags the whole registry.
    cand = {k: v * 3.5 for k, v in BASE.items()}
    res = evaluate(cand, BASE)
    assert res["host_factor"] == pytest.approx(3.5)
    assert res["host_factor_capped"]
    assert not res["ok"]
    assert set(res["over_threshold"]) == set(BASE)


def test_plausible_host_noise_stays_uncapped():
    cand = {k: v * 1.45 for k, v in BASE.items()}
    res = evaluate(cand, BASE)
    assert res["ok"]
    assert not res["host_factor_capped"]
    assert res["host_factor"] < HOST_FACTOR_CAP


def test_nonpositive_baseline_is_a_hard_error():
    bad = dict(BASE, z=0.0)
    with pytest.raises(ValueError, match="must be > 0"):
        evaluate(dict(bad), bad)


def test_frozen_baseline_matches_committed_r09_artifact():
    """The shipped freeze must accept the round-9 driver artifact.

    Keys frozen AFTER round 9 (protocol.additions, e.g. the round-12
    emb_recall_planted) cannot appear in the r09 artifact — they are
    excluded from this backward-compatibility check, not counted as
    coverage loss."""
    with open(os.path.join(REPO, "tools", "baseline_sf01.json")) as fh:
        frozen = json.load(fh)
    with open(os.path.join(REPO, "BENCH_FULL_r09.json")) as fh:
        art = json.load(fh)
    additions = set(frozen.get("protocol", {}).get("additions", {}))
    base = {k: v for k, v in frozen["median"].items() if k not in additions}
    res = evaluate(art["queries"], base)
    assert res["ok"], res["over_threshold"]
    assert res["n_compared"] == len(base) == 272
    # Freeze invariant: median >= min per key, both positive.
    assert all(
        0 < frozen["min"][k] <= frozen["median"][k] + 1e-9
        for k in frozen["median"]
    )


def test_min_rep_rescue_requires_fast_best_rep():
    """Round-12 min-rep fallback (VERDICT r11 task 2), both directions.

    Positive: a key whose MEDIAN breaches 2x but whose best rep is
    well inside the bound is contention, not a regression — reported
    under min_rep_rescued, gate passes. Negative: when the best rep
    ALSO breaches (a real regression moves every rep), the key still
    fails exactly as before the fallback existed.
    """
    cand = dict(BASE)
    cand["d"] = BASE["d"] * 2.5  # median 2.5x: one noisy rep of three
    mins = dict(BASE)
    mins["d"] = BASE["d"] * 1.2  # ...but the best rep is near-baseline
    res = evaluate(cand, BASE, candidate_min=mins)
    assert res["ok"]
    assert res["over_threshold"] == {}
    assert list(res["min_rep_rescued"]) == ["d"]
    assert res["min_rep_rescued"]["d"]["min_normalized_ratio"] == 1.2

    # Negative: best rep breaches too -> NOT rescued, gate fails.
    mins_bad = dict(mins, d=BASE["d"] * 2.3)
    res_bad = evaluate(cand, BASE, candidate_min=mins_bad)
    assert not res_bad["ok"]
    assert list(res_bad["over_threshold"]) == ["d"]
    assert res_bad["min_rep_rescued"] == {}


def test_min_rep_fallback_absent_key_keeps_median_rule():
    """A key missing from queries_min (older artifacts) gets the
    median-only rule — the fallback can only be EARNED by a recorded
    fast rep, never defaulted into."""
    cand = dict(BASE)
    cand["d"] = BASE["d"] * 2.5
    res = evaluate(cand, BASE, candidate_min={k: v for k, v in BASE.items() if k != "d"})
    assert not res["ok"]
    assert list(res["over_threshold"]) == ["d"]
    # And with no min data at all, behavior is byte-identical to the
    # pre-fallback gate.
    res_none = evaluate(cand, BASE)
    assert not res_none["ok"]
    assert list(res_none["over_threshold"]) == ["d"]


def test_driver_r11_loaded_host_artifact_passes_with_min_fallback():
    """The exact artifact from the VERDICT r11 task-2 done bar: the
    driver's post-close loaded-host run (agg_abc median 2.39x
    normalized, best rep 0.95x) must pass at the unchanged 2.0
    threshold, with agg_abc explicitly recorded as min-rep rescued.

    Both inputs are frozen fixtures (``git show 122a5ed:`` of
    BENCH_FULL_latest.json and tools/baseline_sf01.json): the live
    files are rewritten by every bench run, so reading them would make
    this test depend on whichever leg ran last."""
    fixtures = os.path.join(REPO, "tests", "fixtures")
    with open(os.path.join(fixtures, "baseline_sf01_r11.json")) as fh:
        frozen = json.load(fh)
    with open(os.path.join(fixtures, "bench_full_r11_loaded_host.json")) as fh:
        art = json.load(fh)
    res = evaluate(
        art["queries"], frozen["median"], candidate_min=art.get("queries_min")
    )
    assert res["ok"], res["over_threshold"]
    rescued = res["min_rep_rescued"]["agg_abc"]
    assert rescued["normalized_ratio"] == pytest.approx(2.387)
    assert rescued["min_normalized_ratio"] == pytest.approx(0.951)


def test_cli_refuses_cross_sf_comparison(tmp_path):
    """An artifact benched at a different sf or on a different master
    than the frozen baseline must get an explicit NOT APPLICABLE
    verdict from the CLI, not a garbage ratio comparison (the driver
    overwrites BENCH_FULL_latest.json with whichever leg it ran
    last)."""
    import subprocess

    art = tmp_path / "art.json"
    art.write_text(
        json.dumps(
            {"sf": "/root/testdata/sf0.001", "queries": {"a": 900.0}}
        )
    )
    base = tmp_path / "base.json"
    base.write_text(
        json.dumps(
            {
                "median": {"a": 1.0},
                "protocol": {"sf_dir": "/root/testdata/sf0.1"},
            }
        )
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_gate.py"),
            "--artifact",
            str(art),
            "--baseline",
            str(base),
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0
    assert "NOT APPLICABLE" in proc.stdout
    # Same sf but benched on another master: refused the same way.
    base.write_text(
        json.dumps(
            {
                "median": {"a": 1.0},
                "protocol": {
                    "sf_dir": "/root/testdata/sf0.1",
                    "master": "local[32]",
                },
            }
        )
    )
    art.write_text(
        json.dumps(
            {
                "sf": "/root/testdata/sf0.1",
                "master": "local[8]",
                "queries": {"a": 900.0},
            }
        )
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_gate.py"),
            "--artifact",
            str(art),
            "--baseline",
            str(base),
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0
    assert "NOT APPLICABLE" in proc.stdout
    # Same-sf artifact with the same numbers and no master field takes
    # the normal path.
    art.write_text(
        json.dumps(
            {"sf": "/root/testdata/sf0.1", "queries": {"a": 900.0}}
        )
    )
    proc2 = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_gate.py"),
            "--artifact",
            str(art),
            "--baseline",
            str(base),
        ],
        capture_output=True,
        text=True,
    )
    assert proc2.returncode == 1
    assert "NOT APPLICABLE" not in proc2.stdout


def test_errored_key_fails_gate_not_sails_under():
    """A key that errored on every bench rep ships as -1.0 in the
    artifact; its ratio is negative, which sat UNDER every threshold
    and silently passed the pre-round-12 gate. It must fail like a
    missing key — and a -1.0 best rep must never min-rep-rescue it."""
    cand = dict(BASE, d=-1.0)
    res = evaluate(cand, BASE, candidate_min=dict(BASE, d=-1.0))
    assert not res["ok"]
    assert res["failed_keys"] == ["d"]
    assert res["over_threshold"] == {} and res["min_rep_rescued"] == {}
    # and the healthy keys still evaluate normally
    assert res["n_compared"] == len(BASE) - 1


def test_reanchor_refuses_artifact_without_unaffected_keys(tmp_path):
    """A solo-bench-style artifact that covers only cache-assisted keys
    gives no crowd to normalize the host factor from: the tool must
    exit 1 with a clear message, not a StatisticsError traceback, and
    leave the baseline untouched."""
    import subprocess

    art = tmp_path / "art.json"
    art.write_text(
        json.dumps(
            {
                "clear_cache": True,
                "queries": {"llm_minhash_dedup": 2.4},
                "queries_min": {"llm_minhash_dedup": 2.3},
            }
        )
    )
    base = tmp_path / "base.json"
    base_text = json.dumps(
        {
            "median": {"llm_minhash_dedup": 0.046, "agg_route": 0.5},
            "min": {"llm_minhash_dedup": 0.04, "agg_route": 0.45},
        }
    )
    base.write_text(base_text)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "reanchor_baseline.py"),
            "--artifact", str(art),
            "--baseline", str(base),
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 1, proc.stderr
    assert "Traceback" not in proc.stderr
    assert "no unaffected key" in proc.stdout
    assert base.read_text() == base_text


def test_full_artifact_copy_is_named_for_its_master():
    # Each leg's numbers land in their own file, so the 8-core leg
    # cannot overwrite the 32-core artifact.
    from bench import protocol_artifact_name

    assert protocol_artifact_name("local[32]") == "BENCH_FULL_local32.json"
    assert protocol_artifact_name("local[8]") == "BENCH_FULL_local8.json"
