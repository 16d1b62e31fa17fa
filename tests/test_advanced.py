"""Round-5 advanced ops: grid spatial join vs brute force, winsorize
sanity, int8 quantization error bound."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table
from flirt_consume_spark.operators.spatial import grid_within_radius

SF = "/root/testdata/sf0.001"


def _haversine(lat1, lon1, lat2, lon2):
    dlat = math.radians(lat2 - lat1) / 2
    dlon = math.radians(lon2 - lon1) / 2
    h = (
        math.sin(dlat) ** 2
        + math.cos(math.radians(lat1))
        * math.cos(math.radians(lat2))
        * math.sin(dlon) ** 2
    )
    return 2 * 6371.0 * math.asin(min(1.0, math.sqrt(h)))


_pts = st.lists(
    st.tuples(
        st.floats(min_value=-69.0, max_value=69.0, allow_nan=False),
        st.floats(min_value=-180.0, max_value=179.999, allow_nan=False),
    ),
    min_size=2,
    max_size=30,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=_pts)
def test_grid_join_matches_bruteforce(spark, pts):
    """The grid candidate generator + exact verify must equal the
    O(n²) brute force — including pairs straddling the ±180 dateline
    (the wrap the naive grid loses)."""
    rows = [(i, lat, lon) for i, (lat, lon) in enumerate(pts)]
    df = spark.createDataFrame(rows, "key long, lat double, lon double")
    got = {
        (r.key_a, r.key_b)
        for r in grid_within_radius(
            df, "key", "lat", "lon", radius_km=150.0, cell_deg=4.0,
            max_abs_lat=70.0,
        ).collect()
    }
    want = {
        (i, j)
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if _haversine(rows[i][1], rows[i][2], rows[j][1], rows[j][2])
        <= 150.0
    }
    assert got == want


def test_grid_join_finds_dateline_pair(spark):
    """Two points 0.5° of longitude apart across ±180 are ~20 km apart
    at lat 45 — a plain (non-wrapping) grid join would miss them."""
    df = spark.createDataFrame(
        [(1, 45.0, 179.8), (2, 45.0, -179.7)], "key long, lat double, lon double"
    )
    out = grid_within_radius(
        df, "key", "lat", "lon", radius_km=150.0, cell_deg=4.0,
        max_abs_lat=70.0,
    ).collect()
    assert [(r.key_a, r.key_b) for r in out] == [(1, 2)]
    assert out[0].dist_km < 60.0


def test_grid_join_cell_guard():
    import pytest

    # The covering-invariant guard fires before any DataFrame work.
    with pytest.raises(ValueError, match="cannot cover"):
        grid_within_radius(None, "k", "lat", "lon", 150.0, 1.0)


def test_winsorize_bounds(spark):
    """Capped sum is within [n*lo, n*hi] per group and never exceeds
    the raw sum's magnitude spread; n_capped < n."""
    from flirt_consume_spark.queries.advanced import agg_winsorize

    rows = {r.o_orderstatus: r for r in agg_winsorize(spark, SF).collect()}
    orders = load_table(spark, SF, "orders")
    raw = {
        r.o_orderstatus: r
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 1e2).cast("long")).alias(
                "raw_cents"
            ),
        )
        .collect()
    }
    for status, r in rows.items():
        assert r.cnt == raw[status].n
        assert 0 <= r.n_capped < r.cnt
        # capping pulls tails inward: capped sum is bounded by the raw
        # extremes times n, and within 2x of the raw sum here.
        assert abs(r.capped_cents - raw[status].raw_cents) < abs(
            raw[status].raw_cents
        )


def test_quantize_error_bound(spark):
    """Reconstruction error of symmetric int8 is at most one
    quantization step (scale/127) per element."""
    from flirt_consume_spark.queries.advanced import emb_quantize

    out = emb_quantize(spark, SF)
    bad = out.filter(
        F.col("maxerr_e9") / 1e9 > F.col("scale_e9") / 1e9 / 127 + 1e-9
    ).count()
    assert bad == 0
    assert out.count() > 0


def test_kmeans_matches_numpy_reference(spark):
    """Third, independent implementation: numpy Lloyd's with the same
    fixed-point discipline must produce the identical partition."""
    import numpy as np
    import pandas as pd  # noqa: F401

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    X = np.array([np.asarray(v, dtype=np.float64) for v in tbl["embedding"]])
    ids = tbl["vec_id"].to_numpy()
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    cents = {int(i): X[ids == i][0] for i in range(5)}
    assign = None
    for _ in range(2):
        cids = sorted(cents)
        # 1e-15-grain floored integer distance sums, ties -> lower cid
        # (same discipline as the Spark/DuckDB pair).
        D = np.stack(
            [
                np.floor((X - cents[c]) ** 2 * 1e15).astype(np.int64).sum(axis=1)
                for c in cids
            ],
            axis=1,
        )
        assign = np.array(cids)[np.argmin(D, axis=1)]
        cents = {}
        for c in np.unique(assign):
            M = X[assign == c]
            cents[int(c)] = (
                np.floor(M * 1e9).astype(np.int64).sum(axis=0) / 1e9 / len(M)
            )
    sig = np.floor(X * 1e6).astype(np.int64).sum(axis=1)
    want = {
        int(c): (
            int((assign == c).sum()),
            int(sig[assign == c].sum()),
        )
        for c in np.unique(assign)
    }
    from flirt_consume_spark.queries.advanced import emb_kmeans

    got = {
        int(r.cid): (int(r.n_members), int(r.member_checksum))
        for r in emb_kmeans(spark, SF).collect()
    }
    assert got == want


def test_pagerank_matches_python_reference(spark):
    """Independent driver-side reference: the same integer-arithmetic
    PageRank over the same edge set must agree rank-for-rank."""
    import collections

    from flirt_consume_spark.queries.advanced import graph_pagerank

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    od = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    edges = {
        (r[0], r[1] + 10_000_000)
        for r in li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .collect()
    }
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    deg = collections.Counter(u for u, _ in edges)
    r = {n: 1_000_000 for n in nodes}
    for _ in range(2):
        contrib = collections.defaultdict(int)
        for u, v in edges:
            contrib[v] += (r[u] * 85) // (100 * deg[u])
        r = {n: 150_000 + contrib.get(n, 0) for n in nodes}
    got = {
        row.node: row.rank_micro for row in graph_pagerank(spark, SF).collect()
    }
    assert got == r
    # sanity: suppliers (in-degree > 0) outrank the teleport floor.
    assert any(v > 150_000 for v in got.values())


def test_triangles_adjacency_matches_wedge_join(spark):
    """r12: graph_triangles switched from the two-join wedge plan to
    oriented adjacency intersection. Pin count-equivalence against an
    independent driver-side wedge enumeration over the same oriented
    edge set (each triangle a<b<c found once at its lowest edge)."""
    from flirt_consume_spark.queries.advanced import graph_triangles

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    od = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    a = F.col("o_custkey") % 4999
    b = F.col("l_suppkey") * 13 % 4999
    edges = {
        (r[0], r[1])
        for r in li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .filter((F.col("o_totalprice") > 400000) & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
        .collect()
    }
    nbrs: dict = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
    want_tri = sum(
        len(nbrs.get(u, set()) & nbrs.get(v, set())) for u, v in edges
    )
    row = graph_triangles(spark, SF).collect()[0]
    assert (row.n_edges, row.n_triangles) == (len(edges), want_tri)


# --- regression tests for the round-4 ADVICE items -----------------------


def test_bloom_rejects_mismatched_key_dtypes(spark):
    """Equal values of different types can render differently ('1' vs
    '1.0'), silently diverging bloom bit positions — the operator must
    refuse rather than drop true matches."""
    import pytest

    from flirt_consume_spark.operators.scale import bloom_prefilter

    big = spark.createDataFrame([(1,)], "k bigint")
    small = spark.createDataFrame([(1.0,)], "k double")
    with pytest.raises(ValueError, match="dtypes must match"):
        bloom_prefilter(big, small, "k", "k")


def test_bloom_semi_join_with_shared_column_name(spark):
    """The probe side may carry a column with the small side's key
    name; the join must still resolve to the small side's column."""
    from flirt_consume_spark.operators.scale import bloom_semi_join

    big = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id bigint, k string"
    )
    small = spark.createDataFrame([(1,), (3,)], "id bigint")
    got = sorted(r.id for r in bloom_semi_join(big, small, "id", "id").collect())
    assert got == [1, 3]


def test_merge_upsert_source_null_overwrites(spark):
    """MERGE semantics: a matched source row replaces the WHOLE target
    row — a NULL source column overwrites, never resurrects the old
    value (the coalesce bug the round-4 advice flagged)."""
    from flirt_consume_spark.operators.relational import merge_upsert

    target = spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string")
    source = spark.createDataFrame([(1, None), (3, "new")], "k long, v string")
    got = {r.k: r.v for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: None, 2: "keep", 3: "new"}


def test_merge_upsert_accepts_column_permutation(spark):
    from flirt_consume_spark.operators.relational import merge_upsert

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    source = spark.createDataFrame([("b", 1)], "v string, k long")
    got = [(r.k, r.v) for r in merge_upsert(target, source, ["k"]).collect()]
    assert got == [(1, "b")]


def test_snapshot_diff_null_natural_key(spark):
    """A legitimate NULL key must classify by actual side presence
    (full-outer join never matches NULL keys, so each side's NULL-key
    row surfaces once — as removed/added, not misclassified)."""
    from flirt_consume_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame([(None, 1), (1, 1)], "k long, v long")
    new = spark.createDataFrame([(None, 2), (1, 1)], "k long, v long")
    rows = snapshot_diff(old, new, ["k"], ["v"]).collect()
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r.status, []).append(r.k)
    assert by_status.get("unchanged") == [1]
    # the NULL-key rows: one per side, never 'unchanged'/'changed'
    assert by_status.get("removed") == [None]
    assert by_status.get("added") == [None]


def test_components_agree_on_self_pair_only_nodes(spark):
    """Both CC algorithms must return the same node set when input
    contains nodes appearing only as self-pairs (the size dispatch
    must not change results)."""
    from flirt_consume_spark.operators.dedup import (
        alternating_star_components,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (9, 9)], "doc_a long, doc_b long"
    )
    prop = {r.node: r.comp for r in connected_components(pairs).collect()}
    star = {
        r.node: r.comp for r in alternating_star_components(pairs).collect()
    }
    assert prop == star == {1: 1, 2: 1, 7: 7, 9: 9}


def test_semdedup_pairs_within_kmeans_cells_only(spark):
    """Every reported duplicate must share its canonical's k-means
    cell, the cosine must clear the threshold on recompute, and the
    canonical must be the lowest-id in-cell neighbor above it."""
    import numpy as np

    from flirt_consume_spark.io import load_table
    from flirt_consume_spark.queries import REGISTRY
    from flirt_consume_spark.queries.advanced import _km_state

    SF = "/root/testdata/sf0.001"
    _, assign = _km_state(spark, SF)
    cell = {r["vec_id"]: r["cid"] for r in assign.collect()}
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in load_table(spark, SF, "embeddings").collect()
    }

    def cos(a, b):
        va, vb = emb[a], emb[b]
        return round(
            float(va @ vb) / (np.sqrt(va @ va) * np.sqrt(vb @ vb)), 6
        )

    rows = REGISTRY["llm_semdedup"].fn(spark, SF).collect()
    for r in rows:
        assert cell[r["dup_id"]] == cell[r["canonical_id"]]
        assert r["canonical_id"] < r["dup_id"]
        assert cos(r["dup_id"], r["canonical_id"]) >= 0.3
    # completeness: brute-force within-cell pairs >= threshold
    expect = {}
    ids = sorted(emb)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cell[a] == cell[b] and cos(a, b) >= 0.3:
                expect.setdefault(b, []).append(a)
    got = {r["dup_id"]: r for r in rows}
    assert set(got) == set(expect)
    for dup, links in expect.items():
        assert got[dup]["canonical_id"] == min(links)
        assert got[dup]["n_links"] == len(links)


def test_badrecords_flags_line_corrupt_only_in_unread_column(spark):
    """scan_badrecords' localCheckpoint is a correctness boundary: the
    query reads only o_totalprice and _corrupt_record, and CSV column
    pruning would then parse only those, counting a line whose sole
    defect is a non-numeric o_orderkey as good. The pin makes the scan
    parse every schema column, so such a line is quarantined."""
    import os

    from flirt_consume_spark.io import cache_path
    from flirt_consume_spark.queries import REGISTRY

    fn = REGISTRY["scan_badrecords"].fn
    before = fn(spark, SF).collect()[0]  # also builds the CSV fixture
    extra = os.path.join(
        cache_path("badcsv", SF, "orders"), "zz_key_only_corrupt.csv"
    )
    try:
        with open(extra, "w") as fh:
            fh.write("not_a_key,12.5\n")
        after = fn(spark, SF).collect()[0]
    finally:
        os.remove(extra)
    assert after["n_bad"] == before["n_bad"] + 1
    assert after["n_good"] == before["n_good"]
