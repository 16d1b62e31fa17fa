"""Property-based invariants (SURVEY.md §5.4) + stub-contract tests."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table
from flirt_consume_spark.operators.multimodal import (
    attach_assets,
    decode_image,
    extract_features,
)
from flirt_consume_spark.operators.relational import first_per_key
from flirt_consume_spark.operators.temporal import expand_schedule

_days = st.integers(min_value=0, max_value=40)
_mask = st.text(alphabet="01", min_size=7, max_size=7)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(span=_days, mask=_mask)
def test_expansion_count_matches_mask(spark, span, mask):
    """Expanded-leg count == number of dates in range whose ISO weekday
    bit is set (the E1 golden invariant from FIXTURES.md)."""
    start = datetime.date(2024, 3, 1)
    end = start + datetime.timedelta(days=span)
    df = spark.createDataFrame(
        [(1, start.isoformat(), end.isoformat(), mask)],
        "id int, eff string, disc string, mask string",
    )
    got = expand_schedule(df, "eff", "disc", "mask").count()
    want = sum(
        mask[(start + datetime.timedelta(days=i)).isoweekday() - 1] == "1"
        for i in range(span + 1)
    )
    assert got == want


def test_dedup_idempotent(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    once = first_per_key(ev, ["user_id", "event_type"], ["ts", "event_id"])
    twice = first_per_key(once, ["user_id", "event_type"], ["ts", "event_id"])
    assert once.count() == twice.count()
    latest = first_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    assert latest.count() == ev.select("user_id").distinct().count()


def test_union_except_roundtrip(spark):
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey")
    assert a.unionByName(b).subtract(b).exceptAll(a).count() == 0


def test_multimodal_stub_contract(spark):
    """Without a codec the decode must fail loudly; with pillow it must
    really decode. The feature plumbing must run either way with the
    declared schema and deterministic values."""
    from flirt_consume_spark.operators.multimodal import HAS_PIL

    if HAS_PIL:
        # 1x1 uncompressed BMP, bright-red pixel — decodes anywhere.
        bmp = (
            b"BM" + (26 + 4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + (26).to_bytes(4, "little") + (12).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"\x00\x00\xff\x00"
        )
        w, h, mode, luma = decode_image(bmp)
        assert (w, h) == (1, 1) and 0 <= luma <= 255
    else:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    feats = extract_features(attach_assets(docs))
    rows = feats.collect()
    assert len(rows) == 20
    assert feats.columns == [
        "doc_id", "byte_len", "sha", "brightness", "width", "height",
    ]
    assert all(0 <= r.brightness <= 255 for r in rows)


def test_approx_distinct_tolerance(spark):
    """A3: HLL++ within 5% of exact (can't hash-match, so bounded here)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    approx = ev.agg(F.approx_count_distinct("user_id", 0.01)).collect()[0][0]
    exact = ev.select("user_id").distinct().count()
    assert abs(approx - exact) / exact < 0.05


_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_edges)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation == driver-side union-find on
    arbitrary random graphs (chains, stars, cycles, forests)."""
    from flirt_consume_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_connected_components_dispatches_above_broadcast_limit(spark):
    """Scale-safety dispatch: when the node set exceeds
    broadcast_nodes_limit, connected_components must hand off to the
    no-broadcast star-contraction algorithm and still return the same
    labels (a chain catches any off-by-one handoff)."""
    from flirt_consume_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(20)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    small_path = {
        r.node: r.comp for r in connected_components(pairs).collect()
    }
    dispatched = {
        r.node: r.comp
        for r in connected_components(
            pairs, broadcast_nodes_limit=5
        ).collect()
    }
    assert small_path == dispatched == {n: 0 for n in range(21)}


def test_jaccard_verify_matches_raw_selfjoin(spark):
    """Pair-bounded array-intersect Jaccard == the raw shingle
    self-join form, on the pairs both can see (candidates)."""
    from flirt_consume_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_stream,
        shingle_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cand = lsh_candidate_pairs(minhash_signatures(shingle_stream(docs)))
    got = jaccard_verify(shingle_table(docs), cand, min_sim=1e-6)
    raw = jaccard_pairs(shingle_table(docs), min_sim=1e-6)
    want = raw.join(cand, ["doc_a", "doc_b"])  # restrict to candidates
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pack_sequences_invariants(spark):
    """Bins are contiguous in doc_id order per source; every bin
    except possibly the last starts before the ctx boundary it fills;
    token totals are preserved."""
    from flirt_consume_spark.queries.base import REGISTRY

    sf = "/root/testdata/sf0.001"
    packed = REGISTRY["pack_sequences"].fn(spark, sf)
    rows = packed.collect()
    docs = load_table(spark, sf, "documents")
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
    ).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total_tokens
    for r in rows:
        assert r.bin_id >= 0 and r.n_docs >= 1
    # bin ids per source are dense from 0 (no gaps: cumsum is monotone)
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.bin_id)
    for src, bins in by_src.items():
        assert sorted(bins) == list(range(len(bins))), src


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_edges)
def test_star_components_matches_union_find(spark, edges):
    """Alternating large-star/small-star contraction == union-find on
    arbitrary random graphs — and therefore == min-label propagation."""
    from flirt_consume_spark.operators.dedup import (
        alternating_star_components,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.comp for r in alternating_star_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_star_components_long_chain(spark):
    """The O(log n) win: a 120-node chain (diameter 119) — label
    propagation's worst case — resolves to one component in the
    logarithmic round budget."""
    from flirt_consume_spark.operators.dedup import (
        alternating_star_components,
    )

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    rows = alternating_star_components(pairs, max_iter=12).collect()
    assert {r.node for r in rows} == set(range(n))
    assert {r.comp for r in rows} == {0}


# --- analytics-op invariants (funnel / histogram / cohort) ---------------

_event_rows = st.lists(
    st.tuples(
        st.integers(0, 5),                       # user_id
        st.integers(0, 10_000_000),              # seconds offset
        st.sampled_from(["click", "purchase", "view"]),
    ),
    min_size=1,
    max_size=40,
)


def _write_events(spark, rows, tmpdir: str) -> None:
    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(seconds=sec), uid, et, 1.0, "{}")
        for i, (uid, sec, et) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_event_rows)
def test_funnel_monotone(spark, rows):
    """Funnel step counts are monotone non-increasing, and step 1
    equals the naive first-click count."""
    import tempfile

    from flirt_consume_spark.queries.analytics import funnel_steps

    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        got = funnel_steps(spark, d).collect()[0]
        assert got.n_users >= got.n_clicked >= got.n_converted >= 0
        assert got.n_users == len({uid for uid, _, _ in rows})
        assert got.n_clicked == len(
            {uid for uid, _, et in rows if et == "click"}
        )


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_event_rows)
def test_cohort_retention_invariants(spark, rows):
    """Activity month >= cohort month for every cell, and the matrix
    total equals the number of distinct (user, month) pairs."""
    import tempfile

    from flirt_consume_spark.queries.analytics import cohort_retention

    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        cells = cohort_retention(spark, d).collect()
        assert all(c.act_month >= c.cohort for c in cells)
        base = datetime.datetime(2024, 1, 1)
        want = len(
            {
                (uid, (base + datetime.timedelta(seconds=sec)).strftime("%Y-%m"))
                for uid, sec, _ in rows
            }
        )
        assert sum(c.n_active for c in cells) == want


_prices = st.lists(
    st.floats(min_value=1.0, max_value=500_000.0, allow_nan=False),
    min_size=1,
    max_size=60,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(prices=_prices)
def test_histogram_invariants(spark, prices):
    """Bucket counts sum to the row count, every bucket id is in
    [0, 19], and the max value lands in the LAST bucket."""
    import tempfile

    from flirt_consume_spark.queries.analytics import agg_histogram

    prices = prices + [1.0, 500_000.0]  # guarantee hi > lo
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(prices)],
            "o_orderkey long, o_totalprice double",
        ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        buckets = agg_histogram(spark, d).collect()
        assert sum(b.cnt for b in buckets) == len(prices)
        assert all(0 <= b.bucket <= 19 for b in buckets)
        assert any(b.bucket == 19 for b in buckets)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_event_rows)
def test_time_islands_maximal_and_disjoint(spark, rows):
    """E8 invariants: per user, islands are disjoint (no island's
    start falls inside another), every island is maximal (gap > 0 to
    the next island), island event counts sum to the event count, and
    each island spans exactly [min start, max end] of its events."""
    import tempfile

    from flirt_consume_spark.queries.advanced import time_islands

    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, rows, d)
        cells = time_islands(spark, d).collect()
        assert sum(c.n_events for c in cells) == len(rows)
        by_user: dict = {}
        for c in cells:
            by_user.setdefault(c.user_id, []).append(c)
        for islands in by_user.values():
            islands.sort(key=lambda c: c.start_us)
            for a, b in zip(islands, islands[1:]):
                assert a.end_us < b.start_us, "islands overlap or touch"
            for c in islands:
                assert c.start_us + 300_000_000 <= c.end_us or (
                    c.n_events == 1 and c.end_us == c.start_us + 300_000_000
                )


_sets = st.lists(
    st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=12),
    min_size=2,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(raw=_sets, tau=st.sampled_from([(1, 3), (1, 2), (2, 3), (4, 5)]))
def test_prefix_filter_lossless_random_sets(spark, raw, tau):
    """prefix_filtered_pairs == brute-force pairwise Jaccard on
    arbitrary random set families at several thresholds — the
    losslessness of prefix + positional filtering holds for every
    input, not just the doc fixture."""
    from flirt_consume_spark.operators.retrieval import prefix_filtered_pairs

    tn, td = tau
    sets = [sorted(set(s)) for s in raw]
    rows = [
        (i, f"t{v}") for i, s in enumerate(sets) for v in s
    ]
    items = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.id_a, r.id_b, r.n_inter, r.n_union)
        for r in prefix_filtered_pairs(items, tau_num=tn, tau_den=td).collect()
    }
    want = set()
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(set(sets[a]) & set(sets[b]))
            union = len(set(sets[a]) | set(sets[b]))
            if td * inter >= tn * union:
                want.add((a, b, inter, union))
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.integers(min_value=-1000, max_value=1000),
                     min_size=1, max_size=40))
def test_global_cumsum_random(spark, vals):
    """Distributed prefix sum == Python itertools.accumulate on the
    same total order, including negative values (the sweep-line case)."""
    from itertools import accumulate

    from flirt_consume_spark.operators.scale import global_cumsum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    got = {
        r.k: r.cum
        for r in global_cumsum(df, "v", [F.col("k")]).collect()
    }
    want = dict(zip(range(len(vals)), accumulate(vals)))
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.integers(-5000, 5000),  # value (crosses bucket borders)
            st.integers(0, 9),  # weight (zeros exercise ties)
        ),
        min_size=1,
        max_size=50,
    ),
    q=st.sampled_from([(1, 2), (1, 4), (3, 4), (9, 10), (1, 1)]),
    width=st.sampled_from([4, 64, 1024]),
)
def test_bucketized_weighted_quantile_random(spark, rows, q, width):
    """Two-level bucket search == brute-force smallest value whose
    cumulative weight crosses q·total, on random multi-group data
    with negative values, duplicate values, zero weights, and bucket
    widths small enough that level-2 pruning is actually exercised."""
    from flirt_consume_spark.operators.scale import (
        bucketized_weighted_quantile,
    )

    # Guarantee at least one positive weight per present group so the
    # quantile is defined (all-zero groups have tw == 0: every cw
    # satisfies den·0 >= num·0, making min(v) the degenerate answer —
    # brute force below reproduces that too, so no filtering needed).
    df = spark.createDataFrame(rows, "g long, v long, w long")
    qn, qd = q
    got = {
        r.g: r.wq
        for r in bucketized_weighted_quantile(
            df, ["g"], "v", "w", q_num=qn, q_den=qd, bucket_width=width
        ).collect()
    }
    want = {}
    by_g: dict = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).append((v, w))
    for g, vw in by_g.items():
        tot = sum(w for _v, w in vw)
        cum = 0
        for v in sorted({v for v, _w in vw}):
            cum += sum(w for v2, w in vw if v2 == v)
            if qd * cum >= qn * tot:
                want[g] = v
                break
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    ps=st.sampled_from(
        [[0.25, 0.5, 0.75], [0.05, 0.95], [0.0, 1.0], [0.5], [0.37, 0.61]]
    ),
)
def test_order_statistic_percentile_matches_native(spark, vals, ps):
    """grouped_percentiles (the agg_percentile/agg_winsorize scale
    path) == the native exact F.percentile aggregate, to EXACT double
    equality — same sorted doubles, same h = (n−1)·p position, same
    two-weight (⌈h⌉−h)·lower + (h−⌊h⌋)·higher association — including non-dyadic
    p where h itself rounds, so any ulp divergence in the
    re-derivation fails here rather than in an oracle whose 6-dp
    rounding would hide it. p=0/1 must equal exact min/max."""
    from flirt_consume_spark.operators.scale import grouped_percentiles

    df = spark.createDataFrame(
        [(g, float(v), i) for i, (g, v) in enumerate(vals)],
        "g long, value double, id long",
    )
    oc = [f"p{i}" for i in range(len(ps))]
    want = {
        r.g: tuple(r[c] for c in oc)
        for r in df.groupBy("g")
        .agg(*[F.percentile("value", F.lit(p)).alias(c)
               for p, c in zip(ps, oc)])
        .collect()
    }
    got = {
        r.g: tuple(r[c] for c in oc)
        for r in grouped_percentiles(
            df, ["g"], "value", [F.col("id")], ps=ps, out_cols=oc
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    spans=st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 10)),
        min_size=1,
        max_size=20,
    )
)
def test_sweep_line_matches_naive_overlap_count(spark, spans):
    """Sweep-line peak concurrency == naive per-day membership count
    on random interval families."""
    from flirt_consume_spark.operators.scale import global_cumsum

    rows = [(i, s, s + d) for i, (s, d) in enumerate(spans)]
    df = spark.createDataFrame(rows, "id long, s long, e long")
    starts = df.select(F.col("s").alias("p"), F.lit(1).alias("delta"), "id")
    ends = df.select(F.col("e").alias("p"), F.lit(-1).alias("delta"), "id")
    swept = global_cumsum(
        starts.unionByName(ends),
        "delta",
        [F.col("p"), F.col("delta"), F.col("id")],
        cum_col="cur",
    )
    got_peak = swept.agg(F.max("cur")).collect()[0][0]
    # naive: count active intervals [s, e) at every start point
    want_peak = max(
        sum(1 for (s2, d2) in spans if s2 <= s < s2 + d2)
        for (s, _d) in spans
    )
    assert got_peak == want_peak


_mrow = st.tuples(
    st.one_of(st.none(), st.integers(min_value=0, max_value=6)),  # key
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),  # val
)


def _dedupe_keys(rows):
    """Keep the first row per non-null key (MERGE's contract requires
    at most one source match per target row; NULL-key rows never
    match, so any number of them is legal)."""
    seen, out = set(), []
    for k, v in rows:
        if k is not None:
            if k in seen:
                continue
            seen.add(k)
        out.append((k, v))
    return out


_mrows = st.lists(_mrow, min_size=0, max_size=12).map(_dedupe_keys)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(tgt=_mrows, src=_mrows)
def test_merge_upsert_matches_merge_semantics(spark, tgt, src):
    """merge_upsert must implement MERGE INTO row-for-row, including
    the NULL edge cases the round-5 fix changed: a source row with a
    NULL key never matches any target row (SQL equality, so it always
    INSERTs), and a matched source row overwrites the WHOLE target row
    — NULL source columns included (UPDATE SET *). Reference model:
    plain Python over the same rows."""
    from flirt_consume_spark.operators.relational import merge_upsert

    schema = "k int, v int"
    t_df = spark.createDataFrame(tgt, schema)
    s_df = spark.createDataFrame(src, schema)
    got = sorted(
        ((r.k, r.v) for r in merge_upsert(t_df, s_df, ["k"]).collect()),
        key=lambda x: (x[0] is None, x[0] if x[0] is not None else 0,
                       x[1] is None, x[1] if x[1] is not None else 0),
    )
    # model: SQL-equality matching (NULL key matches nothing)
    matched_keys = {k for (k, _) in src if k is not None}
    out = []
    for (k, v) in tgt:
        if k is not None and k in matched_keys:
            continue  # replaced by source rows below
        out.append((k, v))
    for (k, v) in src:
        out.append((k, v))  # updates + inserts + NULL-key inserts
    want = sorted(
        out,
        key=lambda x: (x[0] is None, x[0] if x[0] is not None else 0,
                       x[1] is None, x[1] if x[1] is not None else 0),
    )
    assert got == want


# --- round-6 additions: recursive CTE / mode / range frame / nullsafe ----


def _py_walk_depth(node: int) -> int:
    """Reference implementation of sql_recursive's parent chain:
    parent(n) = md5-uniform % (1 + n // 8), walked to 0."""
    import hashlib

    depth, cur = 0, node
    while True:
        h = int(hashlib.md5(str(cur).encode()).hexdigest()[:8], 16)
        cur = h % (1 + cur // 8)
        depth += 1
        if cur == 0:
            return depth


def test_sql_recursive_matches_python_walk(spark):
    """Every customer's (root, depth) must equal the pure-Python walk
    of the same md5 contraction chain — pins the UnionLoop execution
    to the declared recurrence, independent of the DuckDB oracle."""
    from flirt_consume_spark.queries import REGISTRY

    rows = REGISTRY["sql_recursive"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "recursion produced no rows"
    for r in rows:
        assert r.root == 0
        assert r.depth == _py_walk_depth(r.node), r


def test_sql_frame_arguments_leave_no_temp_view(spark):
    """The keys that hand a frame to ``spark.sql`` leave the session's
    temp views as they found them (a fresh session starts with none)."""
    from flirt_consume_spark.queries import REGISTRY

    fresh = spark.newSession()
    for key in ("sql_recursive", "graph_bfs_dist"):
        REGISTRY[key].fn(fresh, "/root/testdata/sf0.001").count()
    assert [t.name for t in fresh.catalog.listTables() if t.isTemporary] == []


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5)),
        min_size=1,
        max_size=40,
    )
)
def test_agg_mode_tie_break(spark, vals):
    """Mode = (max count, then smallest value) — verified against a
    pure-Python argmax on random multisets, including ties."""
    from collections import Counter

    from pyspark.sql.window import Window

    df = spark.createDataFrame(vals, "g int, v int")
    counted = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("g").orderBy(F.desc("cnt"), "v")
    got = {
        (r.g, r.v)
        for r in counted.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .collect()
    }
    by_g: dict[int, Counter] = {}
    for g, v in vals:
        by_g.setdefault(g, Counter())[v] += 1
    want = {
        (g, min(v for v, c in cnt.items() if c == max(cnt.values())))
        for g, cnt in by_g.items()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10_000)),
        min_size=1,
        max_size=50,
    )
)
def test_range_frame_matches_brute_force(spark, events):
    """RANGE BETWEEN 3600s PRECEDING AND CURRENT ROW == the O(n²)
    definition: count of same-key rows with ts in [t-3600, t] —
    including equal-timestamp peers AHEAD of the current row (the
    rows-frame trap the RANGE frame exists to avoid)."""
    from pyspark.sql.window import Window

    rows = [(k, t) for k, t in events]
    df = spark.createDataFrame(rows, "k int, t long")
    w = Window.partitionBy("k").orderBy("t").rangeBetween(-3600, 0)
    got = {
        (r.k, r.t, r.c)
        for r in df.select("k", "t", F.count(F.lit(1)).over(w).alias("c"))
        .collect()
    }
    for k, t, c in got:
        want = sum(1 for k2, t2 in rows if k2 == k and t - 3600 <= t2 <= t)
        assert c == want, (k, t, c, want)


def test_nullsafe_join_conserves_rows(spark):
    """Every fact row — including NULL-key rows — must appear exactly
    once after the null-safe dim join (the no-row-loss contract that
    distinguishes <=> from =)."""
    from flirt_consume_spark.queries import REGISTRY

    out = REGISTRY["join_nullsafe"].fn(spark, "/root/testdata/sf0.001")
    n_orders = load_table(spark, "/root/testdata/sf0.001", "orders").count()
    assert out.agg(F.sum("cnt")).collect()[0][0] == n_orders


def test_nullsafe_equi_join_helper(spark):
    """The operators' struct-key join-back helper: NULL keys match
    like groupBy groups (no silent row loss), non-NULL behavior is a
    plain equi-join, a broadcast hint on the right survives the
    struct projection, and right-side key columns are dropped."""
    from flirt_consume_spark.operators.scale import _nullsafe_equi_join

    left = spark.createDataFrame(
        [("a", 1.0, 1), ("a", None, 2), (None, 1.0, 3), (None, None, 4)],
        "g string, v double, id int",
    )
    right = left.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
    out = _nullsafe_equi_join(left, F.broadcast(right), ["g", "v"])
    rows = {r.id: r.n for r in out.collect()}
    # every left row — including all-NULL keys — survives with its
    # group's count
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1}
    assert set(out.columns) == {"g", "v", "id", "n"}
    # the broadcast hint must survive the helper's struct projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- BPE bracket-replace equivalence -------------------------------------
#
# llm_bpe_train's core trick: greedy leftmost-non-overlapping BPE
# merge == literal string replace of '(a)(b)' with '(ab)' on the
# bracketed symbolization. This property drives random words and
# random merge sequences through BOTH a tuple-list reference merger
# and the string-replace path (pure Python here — Spark's replace()
# and DuckDB's replace() share the same leftmost-non-overlapping
# contract, pinned cross-engine by the oracle hash-match).


def _merge_tuples(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_bracket(s, a, b):
    return s.replace(f"({a})({b})", f"({a}{b})")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=12),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=3),
            st.text(alphabet="ab", min_size=1, max_size=3),
        ),
        max_size=4,
    ),
)
def test_bpe_bracket_replace_equals_tuple_merge(word, merges):
    syms = list(word)
    s = "".join(f"({c})" for c in word)
    for a, b in merges:
        syms = _merge_tuples(syms, a, b)
        s = _merge_bracket(s, a, b)
        assert s == "".join(f"({x})" for x in syms), (word, merges)
        # symbol concatenation always reconstructs the word
        assert "".join(syms) == word


# --- grouped_rank arithmetic vs native window functions (VERDICT r6 #8) ---
# The win_ntile/win_distribution rewrites re-derive
# row_number/ntile/percent_rank arithmetic from distributed
# grouped_rank instead of per-group windows. Pin that arithmetic
# against the native window functions across hypothesis-generated TIE
# patterns, so a future edit can't silently diverge from window
# semantics the oracle happens not to probe.

_rank_rows = st.lists(
    st.tuples(
        # group — None included: a NULL group key is its own
        # partition under window semantics, and the operators must
        # keep (not drop) its rows
        st.sampled_from(["a", "b", "c", None]),
        # value: few levels => ties; None => NULL tie class (SQL
        # rank orders NULLs together)
        st.one_of(st.integers(min_value=0, max_value=4), st.none()),
    ),
    min_size=1,
    max_size=40,
)
_k = st.integers(min_value=1, max_value=7)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rank_rows, k=_k)
def test_grouped_rank_ntile_matches_native_windows(spark, rows, k):
    """row_number from ``grouped_rank`` plus ``ntile_expr`` over its
    ``count_col`` group total — the win_rank/win_ntile construction —
    must equal F.row_number()/F.ntile(k), including NULL groups, ties
    under the semantic order, and groups smaller than k."""
    from pyspark.sql.window import Window

    from flirt_consume_spark.operators.scale import grouped_rank, ntile_expr

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g string, v int, id int"
    )
    order = [F.col("v").desc(), F.col("id")]
    got = (
        grouped_rank(df, ["g"], order, rank_col="rn", count_col="_n")
        .select("id", "rn", ntile_expr("rn", "_n", k).alias("nt"))
        .collect()
    )
    w_tot = Window.partitionBy("g").orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w_tot).alias("rn"),
        F.ntile(k).over(w_tot).alias("nt"),
    ).collect()
    gmap = {r.id: (r.rn, r.nt) for r in got}
    wmap = {r.id: (r.rn, r.nt) for r in want}
    assert gmap == wmap


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rank_rows)
def test_grouped_rank_distribution_matches_native(spark, rows):
    """percent_rank/cume_dist as derived in win_distribution — over a
    FULL UNIQUE ordering, (rn-1)/(n-1) and rn/n — must equal the
    native functions under the same total order. Uses the r12
    ``count_col`` ride-along (the exact win_distribution path), which
    also pins the ridden per-group totals against an independent
    groupBy count, NULL groups included."""
    from pyspark.sql.window import Window

    from flirt_consume_spark.operators.scale import grouped_rank

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g string, v int, id int"
    )
    ranked = grouped_rank(
        df, ["g"], [F.col("v"), F.col("id")], rank_col="rn", count_col="n"
    )
    # The ridden count must equal an independent groupBy count for
    # every group, including a NULL group key.
    got_cnt = {
        r.g: r.n
        for r in ranked.select("g", "n").distinct().collect()
    }
    want_cnt = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_cnt == want_cnt
    got = (
        ranked
        .select(
            "id",
            F.when(
                F.col("n") > 1,
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("pr"),
            (F.col("rn").cast("double") / F.col("n").cast("double")).alias("cd"),
        )
        .collect()
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    want = df.select(
        "id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    ).collect()
    gmap = {r.id: (r.pr, r.cd) for r in got}
    wmap = {r.id: (r.pr, r.cd) for r in want}
    assert gmap == wmap


def test_global_rank_count_ride_along(spark):
    """global_rank(count_col=...) must stamp the exact total row count
    on every row — the r12 win_ntile path that replaced a second full
    pass over the ranked frame."""
    from flirt_consume_spark.operators.scale import global_rank

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate([5, 3, 9, 1, 7, 3, 8])],
        "v int, id int",
    )
    ranked = global_rank(
        df, [F.col("v"), F.col("id")], rank_col="rnk", count_col="n"
    )
    rows = ranked.collect()
    assert all(r.n == 7 for r in rows)
    assert sorted(r.rnk for r in rows) == list(range(1, 8))


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_grouped_percentiles_skips_nulls(spark, vals):
    """ADVICE r7 + round-10: NULLs in value_col must be skipped
    exactly as F.percentile skips them — excluded from n AND from the
    rank order — and a group whose values are ALL NULL must be
    emitted with NULL percentiles, byte-matching the native aggregate
    on EVERY group (the former drop-the-group divergence is gone:
    the stage counts on the unfiltered frame and the selection unions
    _pn = 0 groups back in)."""
    from flirt_consume_spark.operators.scale import grouped_percentiles

    df = spark.createDataFrame(
        [(g, None if v is None else float(v), i)
         for i, (g, v) in enumerate(vals)],
        "g long, value double, id long",
    )
    want = {
        r.g: (r.p25, r.p50, r.p75)
        for r in df.groupBy("g")
        .agg(*[F.percentile("value", F.lit(p)).alias(c)
               for p, c in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75")]])
        .collect()
    }
    got = {
        r.g: (r.p25, r.p50, r.p75)
        for r in grouped_percentiles(
            df, ["g"], "value", [F.col("id")],
            ps=[0.25, 0.5, 0.75], out_cols=["p25", "p50", "p75"],
        ).collect()
    }
    assert got == want


def test_bucketized_weighted_quantile_validates_preconditions(spark):
    """ADVICE r7: the documented preconditions (non-negative weights,
    |value| < 2^53/width) are enforced in-plan — a violating row
    fails the action with the operator's message instead of silently
    returning a wrong quantile."""
    import pytest
    from flirt_consume_spark.operators.scale import (
        bucketized_weighted_quantile,
    )

    neg = spark.createDataFrame(
        [(0, 5, 3), (0, 7, -1)], "g long, v long, w long"
    )
    with pytest.raises(Exception, match="negative weight"):
        bucketized_weighted_quantile(neg, ["g"], "v", "w").collect()

    wide = spark.createDataFrame(
        [(0, (1 << 53), 1)], "g long, v long, w long"
    )
    with pytest.raises(Exception, match="2\\^53/width"):
        bucketized_weighted_quantile(wide, ["g"], "v", "w").collect()


def test_bucketized_weighted_quantile_skips_null_rows(spark):
    """ADVICE r8: NULL values/weights follow the SQL aggregate
    NULL-skip convention — the row contributes nothing — rather than
    tripping the non-negative-weight guard (whose when-predicate is
    NULL for NULL w, which would route the row to raise_error and
    fail the whole action)."""
    from flirt_consume_spark.operators.scale import (
        bucketized_weighted_quantile,
    )

    df = spark.createDataFrame(
        [
            (0, 1, 1),
            (0, 2, 1),
            (0, 3, 1),
            (0, 9, None),  # NULL weight: skipped, not raise_error
            (0, None, 5),  # NULL value: skipped
            (1, None, None),  # group with only NULL rows: dropped
        ],
        "g long, v long, w long",
    )
    got = {
        r.g: r.wq
        for r in bucketized_weighted_quantile(df, ["g"], "v", "w").collect()
    }
    # weights {1:1, 2:1, 3:1}, tw=3 -> median = smallest v with
    # 2*cw >= tw -> v=2.  The NULL rows must neither raise nor shift it.
    assert got == {0: 2}


def test_bucketized_weighted_quantile_rejects_float_columns(spark):
    """The integral-column contract is checked at plan-build time, not
    just documented (round-8 hardening, same class as global_cumsum's
    dtype check)."""
    import pytest
    from flirt_consume_spark.operators.scale import (
        bucketized_weighted_quantile,
    )

    df = spark.createDataFrame(
        [(0, 1.5, 1)], "g long, v double, w long"
    )
    with pytest.raises(ValueError, match="integral columns"):
        bucketized_weighted_quantile(df, ["g"], "v", "w")


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    versions=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 12), st.integers(0, 99)),
        min_size=0,
        max_size=20,
    ),
    probes=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 12)),
        min_size=1,
        max_size=15,
    ),
)
def test_asof_joins_match_brute_force(spark, versions, probes):
    """Backward/forward as-of (union + running-scan, one shuffle) ==
    brute force per probe on random data exercising exact timestamp
    ties, multiple same-instant versions, and probes with no match in
    either direction. Documented tie rules: backward takes the LAST
    version in version-col order at the winning instant, forward the
    FIRST."""
    from flirt_consume_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    v = spark.createDataFrame(
        versions or [(None, None, None)], "k int, vts int, val int"
    )
    if not versions:
        v = v.filter("k IS NOT NULL")
    probe_rows = [(k, ts, i) for i, (k, ts) in enumerate(probes)]
    p = spark.createDataFrame(probe_rows, "k int, pts int, pid int")

    back = {
        r.pid: r.val
        for r in asof_join(v, p, "k", "vts", "pts", ["val"], ["pid"])
        .collect()
    }
    fwd = {
        r.pid: r.val
        for r in asof_join_forward(
            v, p, "k", "vts", "pts", ["val"], ["pid"]
        ).collect()
    }

    for k, ts, pid in probe_rows:
        past = [(vts, val) for vk, vts, val in versions
                if vk == k and vts <= ts]
        want_b = max(past)[1] if past else None  # max ts, then max val
        fut = [(vts, val) for vk, vts, val in versions
               if vk == k and vts >= ts]
        want_f = min(fut)[1] if fut else None  # min ts, then MIN val
        assert back[pid] == want_b, (pid, "backward")
        assert fwd[pid] == want_f, (pid, "forward")
