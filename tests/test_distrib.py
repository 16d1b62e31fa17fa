"""Independent recomputations for queries/distrib.py (KS drift audit,
linear interpolation, BFS distances, reservoir sampling) plus the
multi-column global_cumsum extension they ride on."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table
from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.queries.distrib import (
    _BFS_MAX_DEPTH,
    _BFS_SEED_MOD,
    _RSV_K,
    _RSV_SALT,
    bfs_dist,
)

SF = "/root/testdata/sf0.001"


def test_ks_matches_numpy_ecdf(spark):
    od = (
        load_table(spark, SF, "orders")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    got = {
        (r["grp_a"], r["grp_b"]): r
        for r in REGISTRY["audit_ks"].fn(spark, SF).collect()
    }
    assert set(got) == {("F", "O"), ("F", "P"), ("O", "P")}
    for (a, b), row in got.items():
        xa = np.sort(od[od.o_orderstatus == a].o_totalprice.values)
        xb = np.sort(od[od.o_orderstatus == b].o_totalprice.values)
        na, nb = len(xa), len(xb)
        assert (row["n_a"], row["n_b"]) == (na, nb)
        pooled = np.unique(np.concatenate([xa, xb]))
        ca = np.searchsorted(xa, pooled, side="right")
        cb = np.searchsorted(xb, pooled, side="right")
        d_num = int(np.max(np.abs(ca.astype(object) * nb - cb.astype(object) * na)))
        assert row["d_num"] == d_num
        assert row["ks_stat"] == float(d_num) / float(na * nb)


def test_interpolate_matches_pandas(spark):
    ev = (
        load_table(spark, SF, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
            "value",
        )
        .toPandas()
        .sort_values(["user_id", "t", "event_id"])
    )
    got = {
        r["event_id"]: r["interp_value"]
        for r in REGISTRY["time_interpolate"].fn(spark, SF).collect()
    }
    assert len(got) == len(ev)
    n_interpolated = 0
    for _, g in ev.groupby("user_id"):
        anchors = g[g.event_type == "purchase"]
        at = anchors.t.values
        av = anchors.value.values
        for _, r in g.iterrows():
            want = None
            if len(at):
                i = np.searchsorted(at, r.t, side="right")
                # prev anchor: last with t <= r.t ... but anchors AT the
                # same (t, event_id) position must see themselves; the
                # query orders by (t, event_id) so an anchor's own row
                # has pt == nt == its own t unless another anchor shares
                # its t. Replicate via side='right' (t <= r.t) for prev
                # and 'left' (t >= r.t) for next.
                j = np.searchsorted(at, r.t, side="left")
                has_prev, has_next = i > 0, j < len(at)
                if r.event_type == "purchase":
                    want = r.value
                elif has_prev and has_next:
                    pt, pv = at[i - 1], av[i - 1]
                    nt, nv = at[j], av[j]
                    if nt == pt:
                        want = pv
                    else:
                        want = pv + (nv - pv) * (
                            float(r.t - pt) / float(nt - pt)
                        )
                    n_interpolated += 1
            gv = got[r.event_id]
            if want is None:
                assert gv is None
            else:
                assert gv is not None and abs(gv - want) < 1e-12
    assert n_interpolated > 100  # the interesting branch actually ran


def _python_bfs(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Capped multi-source BFS over (node, parent) pairs plus root 0."""
    from collections import deque

    adj: dict[int, list[int]] = {0: []}
    for n, p in pairs:
        adj.setdefault(n, []).append(p)
        adj.setdefault(p, []).append(n)
    nodes = {0} | {n for n, _ in pairs}
    dist = {n: 0 for n in nodes if n % _BFS_SEED_MOD == 0}
    q = deque(dist)
    while q:
        u = q.popleft()
        if dist[u] >= _BFS_MAX_DEPTH:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_matches_python_bfs(spark):
    cust = load_table(spark, SF, "customer").select("c_custkey").toPandas()
    pairs = []
    for k in cust.c_custkey:
        n = int(k) + 1
        h = int(hashlib.md5(str(n).encode()).hexdigest()[:8], 16)
        pairs.append((n, h % (1 + n // 8)))
    got = {
        r["node"]: r["dist"]
        for r in REGISTRY["graph_bfs_dist"].fn(spark, SF).collect()
    }
    assert got == _python_bfs(pairs)
    # The fixtures' farthest node is 3-5 hops from a seed, so the cap
    # only binds on a long path: 0 <- 1 <- ... <- 24, seeded at 0 alone.
    path = [(n, n - 1) for n in range(1, 25)]
    got = {
        r["node"]: r["dist"]
        for r in bfs_dist(spark.createDataFrame(path, "node long, parent long"))
        .collect()
    }
    want = _python_bfs(path)
    assert got == want == {n: n for n in range(_BFS_MAX_DEPTH + 1)}


def test_bfs_body_runs_no_job_beyond_the_table_open(spark, jobs_started):
    """The traversal is one lazy plan: building it launches only the
    jobs of opening its one table, never a per-level action."""
    n_open = jobs_started(lambda: load_table(spark, SF, "customer"))
    n_body = jobs_started(lambda: REGISTRY["graph_bfs_dist"].fn(spark, SF))
    assert n_body == n_open


def test_bfs_builds_its_edge_list_once(spark, jobs_started):
    """Every round reuses one edge list read in one scan of `customer`:
    the final adaptive plan holds at most 3 parquet scans, and the
    key, build and action together, runs at most 11 jobs."""
    plans = []

    def run():
        df = REGISTRY["graph_bfs_dist"].fn(spark, SF)
        df.collect()
        plans.append(df._jdf.queryExecution().executedPlan().executedPlan())

    assert jobs_started(run) <= 11
    assert plans[0].toString().count("FileScan parquet") <= 3


def test_reservoir_is_exact_topk_per_source(spark):
    docs = load_table(spark, SF, "documents").select("source", "doc_id").toPandas()
    got = REGISTRY["sample_reservoir"].fn(spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in got:
        by_src.setdefault(r["source"], []).append((r["rk"], r["doc_id"]))
    for src, g in docs.groupby("source"):
        pri = sorted(
            (
                hashlib.md5((_RSV_SALT + str(d)).encode()).hexdigest(),
                int(d),
            )
            for d in g.doc_id
        )
        want = [(i + 1, d) for i, (_, d) in enumerate(pri[:_RSV_K])]
        assert sorted(by_src[src]) == want


def test_global_cumsum_multi_matches_single(spark):
    from flirt_consume_spark.operators.scale import global_cumsum

    df = (
        load_table(spark, SF, "orders")
        .select(
            "o_orderkey",
            F.lit(1).cast("bigint").alias("one"),
            (F.col("o_custkey") % 7).cast("bigint").alias("m7"),
        )
    )
    multi = (
        global_cumsum(df, ["one", "m7"], ["o_orderkey"], ["c1", "c2"])
        .select("o_orderkey", "c1", "c2")
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    pdf = df.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    assert (multi.c1.values == pdf.one.cumsum().values).all()
    assert (multi.c2.values == pdf.m7.cumsum().values).all()


def test_cms_matches_python_sketch(spark):
    from collections import Counter

    from flirt_consume_spark.queries.distrib import (
        _CMS_D,
        _CMS_PROBE_MOD,
        _CMS_W,
    )

    users = [
        r["user_id"]
        for r in load_table(spark, SF, "events").select("user_id").collect()
    ]

    def bkt(i: int, u: int) -> int:
        return int(hashlib.md5(f"cms{i}:{u}".encode()).hexdigest()[:8], 16) % _CMS_W

    cells: Counter = Counter()
    for u in users:
        for i in range(_CMS_D):
            cells[(i, bkt(i, u))] += 1
    exact = Counter(users)
    got = {r["user_id"]: r for r in REGISTRY["agg_cms"].fn(spark, SF).collect()}
    probes = {u for u in exact if u % _CMS_PROBE_MOD == 0}
    assert set(got) == probes
    for u in probes:
        want_est = min(cells[(i, bkt(i, u))] for i in range(_CMS_D))
        assert got[u]["est_cnt"] == want_est
        assert got[u]["exact_cnt"] == exact[u]
        assert got[u]["lower_bound_ok"] and want_est >= exact[u]


def test_mannwhitney_matches_midrank_recompute(spark):
    """Recompute U, the tie-corrected z, and the rank-biserial effect
    size from first principles with numpy midranks."""
    od = (
        load_table(spark, SF, "orders")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    got = {
        (r["grp_a"], r["grp_b"]): r
        for r in REGISTRY["audit_mannwhitney"].fn(spark, SF).collect()
    }
    assert set(got) == {("F", "O"), ("F", "P"), ("O", "P")}
    for (a, b), row in got.items():
        xa = od[od.o_orderstatus == a].o_totalprice.values
        xb = od[od.o_orderstatus == b].o_totalprice.values
        na, nb = len(xa), len(xb)
        pooled = np.concatenate([xa, xb])
        order = pooled.argsort(kind="mergesort")
        ranks = np.empty(len(pooled))
        sorted_v = pooled[order]
        i = 0
        while i < len(sorted_v):
            j = i
            while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0  # midrank
            i = j
        ra = ranks[:na].sum()
        u = ra - na * (na + 1) / 2.0
        assert row["n_a"] == na and row["n_b"] == nb
        assert row["u2"] == round(2 * u)
        _, counts = np.unique(pooled, return_counts=True)
        tie = float((counts.astype("int64") ** 3 - counts).sum())
        assert row["tie3"] == int(tie)
        n = na + nb
        var = (na * nb / 12.0) * ((n + 1) - tie / (n * (n - 1)))
        z = (u - na * nb / 2.0) / np.sqrt(var)
        assert abs(row["z"] - z) < 1e-9
        assert abs(row["rank_biserial"] - (2 * u / (na * nb) - 1)) < 1e-12


def test_welch_ttest_matches_numpy(spark):
    od = (
        load_table(spark, SF, "orders")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    od["x"] = np.floor(od.o_totalprice).astype("int64")
    got = {
        (r["grp_a"], r["grp_b"]): r
        for r in REGISTRY["audit_ttest"].fn(spark, SF).collect()
    }
    assert set(got) == {("F", "O"), ("F", "P"), ("O", "P")}
    for (a, b), row in got.items():
        xa = od[od.o_orderstatus == a].x.values.astype("float64")
        xb = od[od.o_orderstatus == b].x.values.astype("float64")
        na, nb = len(xa), len(xb)
        va, vb = xa.var(ddof=1) / na, xb.var(ddof=1) / nb
        tstat = (xa.mean() - xb.mean()) / np.sqrt(va + vb)
        dof = (va + vb) ** 2 / (va**2 / (na - 1) + vb**2 / (nb - 1))
        assert (row["n_a"], row["n_b"]) == (na, nb)
        assert abs(row["mean_diff_units"] - (xa.mean() - xb.mean())) < 1e-9
        assert abs(row["t_stat"] - tstat) < 1e-9
        assert abs(row["welch_df"] - dof) < 1e-6


def test_kaplan_meier_matches_lifelines_free_recompute(spark):
    """Recompute the KM estimator from first principles (durations,
    risk sets, sequential product) in pure Python."""
    ev = load_table(spark, SF, "events").toPandas()
    durs = []
    for uid, grp in ev.groupby("user_id"):
        d0 = grp.ts.min().date()
        pur = grp[grp.event_type == "purchase"]
        if len(pur):
            durs.append(((pur.ts.min().date() - d0).days, 1))
        else:
            durs.append(((grp.ts.max().date() - d0).days, 0))
    import collections

    byd = collections.defaultdict(lambda: [0, 0])
    for d, e in durs:
        byd[d][0] += 1
        byd[d][1] += e
    total = len(durs)
    rows = {}
    seen = 0
    surv = 1.0
    for d in sorted(byd):
        n_tot, d_ev = byd[d]
        n_risk = total - seen
        seen += n_tot
        if d_ev > 0:
            surv = surv * ((n_risk - d_ev) / n_risk)
            rows[d] = (d_ev, n_risk, (n_risk - d_ev) / n_risk, surv)
    got = {r["dur_days"]: r for r in REGISTRY["time_survival"].fn(spark, SF).collect()}
    assert set(got) == set(rows)
    for d, (d_ev, n_risk, f, s) in rows.items():
        r = got[d]
        assert (r["d_events"], r["n_at_risk"]) == (d_ev, n_risk)
        assert r["step_factor"] == f
        assert abs(r["survival"] - s) < 1e-15
    # survival is monotone non-increasing in time
    xs = [got[d]["survival"] for d in sorted(got)]
    assert all(a >= b for a, b in zip(xs, xs[1:]))


def test_holt_matches_python_recursion(spark):
    ev = load_table(spark, SF, "events").toPandas()
    got = {r["user_id"]: r for r in REGISTRY["time_holt"].fn(spark, SF).collect()}
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        xs = list(grp.value.values)
        l, b = xs[0], 0.0
        for x in xs[1:]:
            nl = 0.5 * x + 0.5 * (l + b)
            b = 0.5 * (nl - l) + 0.5 * b
            l = nl
        r = got[uid]
        assert r["n"] == len(xs)
        assert r["level"] == l and r["trend"] == b
        assert r["forecast_1"] == l + b


def test_kalman_matches_python_recursion(spark):
    ev = load_table(spark, SF, "events").toPandas()
    got = {r["user_id"]: r for r in REGISTRY["time_kalman"].fn(spark, SF).collect()}
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        xs = list(grp.value.values)
        m, p = xs[0], 1.0
        for x in xs[1:]:
            k = (p + 1.0) / (p + 2.0)
            m = m + k * (x - m)
            p = (1.0 - k) * (p + 1.0)
        r = got[uid]
        assert r["n"] == len(xs)
        assert r["state_mean"] == m and r["state_var"] == p
        # with q=r=1 the posterior variance is bounded and converges
        # to the fixed point p* = (sqrt(5)-1)/2 ≈ 0.618
        assert 0.0 < r["state_var"] <= 2.0
        if r["n"] >= 10:
            assert abs(r["state_var"] - 0.6180339887498949) < 1e-9


def test_crosscorr_matches_numpy(spark):
    ev = load_table(spark, SF, "events").toPandas()
    ev["d"] = ev.ts.dt.date
    daily = (
        ev.assign(
            x=(ev.event_type == "view").astype(int),
            y=(ev.event_type == "purchase").astype(int),
        )
        .groupby("d")[["x", "y"]]
        .sum()
    )
    got = {r["lag"]: r for r in REGISTRY["time_crosscorr"].fn(spark, SF).collect()}
    import datetime as dt

    for lag in range(-3, 4):
        shifted = daily.copy()
        shifted.index = [d - dt.timedelta(days=lag) for d in daily.index]
        j = daily.join(shifted[["y"]], rsuffix="_l", how="inner").dropna()
        x, y = j.x.values.astype(float), j.y_l.values.astype(float)
        if len(x) < 2 or x.std() == 0 or y.std() == 0:
            assert lag not in got
            continue
        r = got[lag]
        assert r["n"] == len(x)
        assert abs(r["xcorr"] - np.corrcoef(x, y)[0, 1]) < 1e-9


def test_viterbi_matches_python_dp(spark):
    """Replay the exact DP (costs + carried candidate paths, tie
    toward staying) in pure Python and demand identical rows —
    including that the decoded path's cost equals the reported
    minimum and no alternative path beats it on a brute check for
    short sequences."""
    from itertools import product

    from flirt_consume_spark.queries.distrib import (
        _VIT_GF,
        _VIT_GS,
        _VIT_SW,
    )

    ev = load_table(spark, SF, "events").toPandas()
    ev["t"] = (ev.ts.astype("int64") // 10**9).astype("int64")
    got = {r["user_id"]: r for r in REGISTRY["time_viterbi"].fn(spark, SF).collect()}
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        ts = grp.t.values
        gaps = [int(b - a) for a, b in zip(ts, ts[1:])]
        if not gaps:
            assert uid not in got
            continue
        cs, cf = abs(gaps[0] - _VIT_GS), abs(gaps[0] - _VIT_GF)
        ps, pf = "S", "F"
        for g in gaps[1:]:
            ncs = min(cs, cf + _VIT_SW) + abs(g - _VIT_GS)
            ncf = min(cf, cs + _VIT_SW) + abs(g - _VIT_GF)
            nps = (ps if cs <= cf + _VIT_SW else pf) + "S"
            npf = (pf if cf <= cs + _VIT_SW else ps) + "F"
            cs, cf, ps, pf = ncs, ncf, nps, npf
        cost, path = (cs, ps) if cs <= cf else (cf, pf)
        r = got[uid]
        assert (r["n_gaps"], r["cost"], r["path"]) == (len(gaps), cost, path)
        bursts = path.startswith("F") + path.count("SF")
        assert r["n_bursts"] == bursts
        # optimality spot-check on short sequences: enumerate all paths
        if len(gaps) <= 12:
            def path_cost(p):
                c = sum(
                    abs(g - (_VIT_GS if st == "S" else _VIT_GF))
                    for g, st in zip(gaps, p)
                )
                c += sum(
                    _VIT_SW for a, b in zip(p, p[1:]) if a != b
                )
                return c

            best = min(path_cost(p) for p in product("SF", repeat=len(gaps)))
            assert cost == best
