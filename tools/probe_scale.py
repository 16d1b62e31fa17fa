"""Headroom probe: times the heavy operator pipelines at Nx the
largest local scale factor by self-multiplying inputs (union of N
copies with shifted keys — preserves key cardinality ratios and
group counts, so plans face N× rows AND N× distinct keys).

This is the local stand-in for "would the plan survive a 100×
scale-up": if wall-time grows ~linearly in N while the plan shape
stays fixed (same audit output), the operator scales by adding
executors; superlinear growth or a plan flip marks a bottleneck.

Usage: python tools/probe_scale.py [--sf DIR] [--mult N]

MEASUREMENT PROTOCOL (round 9): run probes PER WAVE with --only, a
few stems at a time. A full-suite single-session run accumulates
persisted frames and GC pressure across ~50 pipelines and the
ratios come out 2-6x inflated (round-9 control: topk measured 5.68x
of linear inside the full suite, 0.36x in isolation; repetition —
zero-shuffle map work — 2.48x inside, 0.08x isolated). Ratios are
only comparable when the probe and its x1 baseline run in a session
that resembles the per-wave conditions every documented number in
BENCH_NOTES.md was taken under.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table
from flirt_consume_spark.session import get_spark


def multiply(df: DataFrame, key_cols: list[str], n: int, stride: int) -> DataFrame:
    """N copies with all key columns shifted by copy*stride — distinct
    keys scale with rows, as they would in real data."""
    copies = []
    for i in range(n):
        c = df
        for k in key_cols:
            c = c.withColumn(k, F.col(k) + F.lit(i * stride))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


# When non-empty, only probes whose stem is listed run (the rest are
# plan-built but never executed) — lets --mult 100 target the heavy
# pipelines without paying for the whole suite at 100x.
ONLY: set = set()


def timed(name: str, df: DataFrame) -> dict | None:
    if ONLY and name.rsplit("_x", 1)[0] not in ONLY:
        return None
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    return {"probe": name, "sec": round(time.time() - t0, 2)}


def timed_call(name: str, thunk) -> dict | None:
    """Like ``timed`` but the pipeline is built INSIDE the clock — for
    operators whose construction already executes work (the BPE
    trainer collects its merge each round)."""
    if ONLY and name.rsplit("_x", 1)[0] not in ONLY:
        return None
    t0 = time.time()
    thunk().write.mode("overwrite").format("noop").save()
    return {"probe": name, "sec": round(time.time() - t0, 2)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated probe stems to run (default: all)",
    )
    args = ap.parse_args()
    if args.only:
        ONLY.update(s.strip() for s in args.only.split(",") if s.strip())
    n = args.mult
    spark = get_spark("probe-scale")

    li = load_table(spark, args.sf, "lineitem")
    od = load_table(spark, args.sf, "orders")
    docs = load_table(spark, args.sf, "documents")
    cu_cnt = load_table(spark, args.sf, "customer").count()
    # warm-up
    for d in (li, od, docs):
        d.count()

    li_n = multiply(li, ["l_orderkey"], n, 10_000_000)
    od_n = multiply(od, ["o_orderkey", "o_custkey"], n, 10_000_000)
    docs_n = multiply(docs, ["doc_id"], n, 10_000_000)

    results = [
        # Q1-shape aggregation: two-phase hash agg, fixed group count.
        timed(
            f"agg_q1_x{n}",
            li_n.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("sq"),
                F.count(F.lit(1)).alias("cnt"),
            ),
        ),
        # Fact-fact join: shuffle join on N-times-larger key domain.
        timed(
            f"join_fact_x{n}",
            od_n.join(li_n, od_n["o_orderkey"] == li_n["l_orderkey"]).groupBy(
                "o_orderstatus"
            ).agg(F.count(F.lit(1)).alias("cnt")),
        ),
        # Distributed top-k over the multiplied fact table.
        timed(
            f"topk_x{n}",
            li_n.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
            .limit(100),
        ),
        # The shingle/MinHash LSH pipeline end-to-end on N-times docs.
        timed(f"minhash_lsh_x{n}", _lsh(docs_n)),
        # Zero-shuffle quality signal: must scale embarrassingly.
        timed(f"repetition_x{n}", _rep(docs_n)),
        # Batch sessionization: one shuffle on user_id, window + agg.
        timed(f"sessionize_x{n}", _sess(multiply(
            load_table(spark, args.sf, "events"), ["event_id", "user_id"],
            n, 10_000_000))),
        # Context chunking: zero-shuffle, must scale embarrassingly.
        timed(f"chunk_x{n}", _chunk(docs_n)),
        # Contamination probe: broadcast benchmark grams vs N× stream.
        timed(f"contaminate_x{n}", _contam(docs_n)),
        # Bloom semi join: KB bitmap broadcast, fact side never
        # shuffles non-candidates — must scale with the fact scan.
        timed(f"bloom_x{n}", _bloom(li_n, od_n)),
        # Snapshot diff / MERGE: one co-partitioned shuffle each.
        timed(f"snapdiff_x{n}", _snapdiff(od_n)),
        timed(f"merge_x{n}", _merge(od_n)),
        # Z-order layout: one tiny bounds agg + range partition + sort.
        timed(f"zorder_x{n}", _zorder(od_n)),
        # Grid spatial join: candidates bounded per cell, never n².
        # Radius AND cell shrink 1/sqrt(n) so pair density per point
        # stays constant — the probe measures the plan at n-times
        # points, not the quadratic pair growth denser data causes
        # anywhere. Residual ~1.5x-vs-linear is the synthetic coord
        # lattice ((key*7)%140 → only 50 400 distinct sites):
        # multiplied points co-locate EXACTLY, and distance-0 pairs
        # are output whatever the radius — the OUTPUT grows
        # superlinearly, which no engine can avoid emitting.
        timed(f"geo_x{n}", _geo(multiply(
            load_table(spark, args.sf, "customer"), ["c_custkey"],
            n, 10_000_000), radius_km=150.0 / (n ** 0.5),
            cell_deg=4.0 / (n ** 0.5))),
        # Iterative ops: per-iteration join+agg passes; cost must track
        # the edge/vector count, not blow up with the key domain.
        timed(f"pagerank_x{n}", _pagerank(li_n, od_n)),
        timed(f"kmeans_x{n}", _kmeans(multiply(
            load_table(spark, args.sf, "embeddings"), ["vec_id"],
            n, 10_000_000))),
        # Supplier ids multiply too (fresh edge-list copy): otherwise
        # the fixed supplier side densifies and wedge counts grow
        # quadratically — a data property, not a plan property.
        timed(f"triangles_x{n}", _triangles(
            multiply(li, ["l_orderkey", "l_suppkey"], n, 10_000_000),
            od_n, mod=4999 * n)),
        # Token-rarity profile: vocab agg + join back on token. The
        # multiplied corpus repeats the same vocabulary, so the freq
        # table stays vocabulary-sized — as Zipf guarantees at scale.
        timed(f"rarity_x{n}", _rarity(docs_n)),
        # Inverted index: explode → distinct → one shuffle on token.
        timed(f"invindex_x{n}", _invindex(docs_n)),
        # Bitmap-exact distinct: shuffle carries one word per 64-id
        # range, not raw ids — must scale with the scan.
        timed(f"bitmap_x{n}", _bitmap(multiply(
            load_table(spark, args.sf, "events"), ["event_id", "user_id"],
            n, 10_000_000))),
        # Prefix-filtered set-similarity join & duplicate-span
        # detection: candidates bounded by rare-prefix / hot-gram
        # caps. Salted copies (see salt_docs) keep pair structure
        # per-copy; growth beyond linear would mean the candidate
        # stage degrades with corpus size.
        timed(f"setsim_x{n}", _setsim(salt_docs(docs, n, 10_000_000))),
        timed(f"dupspans_x{n}", _dupspans(salt_docs(docs, n, 10_000_000))),
        # Distributed prefix sum + sweep-line concurrency: range
        # partition + per-partition window; no single-reducer stage,
        # so time must track rows.
        timed(f"cumsum_x{n}", _cumsum(od_n)),
        timed(f"sweep_x{n}", _sweep(od_n)),
        # Two-level bucketized weighted median: post-scan work is
        # value-domain-bounded, so time must track the two fact
        # scans only (prices don't multiply — exactly the operator's
        # fixed-value-domain contract).
        timed(f"wmedian_x{n}", _wmedian(li_n)),
        # Order-statistic percentiles (agg_percentile/agg_winsorize
        # scale path): one distributed grouped_rank + a broadcast
        # rank-bounds join — group count FIXED while rows multiply,
        # so time must track the range shuffle, never group size.
        timed(f"pctile_x{n}", _pctile(od_n)),
        # Per-group Gini on global_rank + offsets: every stage range/
        # hash partitioned, so time must track rows not group sizes.
        timed(f"gini_x{n}", _gini(od_n, multiply(
            load_table(spark, args.sf, "customer"), ["c_custkey"],
            n, 10_000_000))),
        # Bounded ancestor closure: 8 frontier hops; live frontier
        # shrinks as chains hit the root, so growth is sublinear in
        # depth and linear in nodes.
        timed(f"ancestors_x{n}", _ancestors(multiply(
            load_table(spark, args.sf, "part"), ["p_partkey"],
            n, 10_000_000))),
        # Covariance: dim^2-group agg — output constant, time must
        # track the vector count.
        timed(f"cov_x{n}", _cov(multiply(
            load_table(spark, args.sf, "embeddings"), ["vec_id"],
            n, 10_000_000))),
        # Banded-LSH similarity join: candidates from per-band
        # equi-joins (sign-salted copies keep per-copy pair structure
        # at x1); growth beyond linear would mean candidate
        # generation degrades with corpus size.
        timed(f"simjoin_x{n}", _simjoin(salt_embs(
            load_table(spark, args.sf, "embeddings"), n, 10_000_000), n)),
        # Power iteration over the dim² covariance: data scanned once,
        # iterations run on the constant-size matrix — time must track
        # the vector count, not the iterate count.
        timed(f"powiter_x{n}", _powiter(multiply(
            load_table(spark, args.sf, "embeddings"), ["vec_id"],
            n, 10_000_000))),
        # Alternating-star contraction components: O(log n) rounds of
        # shuffle-only contraction; per-copy edge families are
        # disjoint, so time must track edges.
        timed(f"starcc_x{n}", _starcc(multiply(
            li.select("l_orderkey", "l_suppkey"),
            ["l_orderkey", "l_suppkey"], n, 10_000_000))),
        # Decorrelated correlated-agg (TPC-H Q17 shape): per-part agg
        # shuffles on the SAME key as the join-back, so both stages
        # scale with rows; no per-row subquery execution to degrade.
        timed(f"q17_x{n}", _q17(multiply(
            li.select("l_partkey", "l_quantity", "l_extendedprice"),
            ["l_partkey"], n, 10_000_000))),
        # Native recursive CTE: depth grows log8(max key), frontier
        # shrinks as chains terminate — time must track nodes, with at
        # most +1 iteration per 8x key-range growth. The node set is a
        # CONTIGUOUS range scaled by n (NOT multiply(): shifted copies
        # would make ~all parents h % (1+k//8) point at ids outside the
        # copied blocks, dead-ending every walk after one hop and
        # measuring a different computation than x1).
        timed(f"recursive_x{n}", _recursive(spark, cu_cnt * n)),
        # Multi-counter ECDF cumsum + integer KS max: one range shuffle.
        timed(f"ks_x{n}", _ks(od_n)),
        # Four ignorenulls frames on one user-key shuffle.
        timed(f"interp_x{n}", _interp(multiply(
            load_table(spark, args.sf, "events"), ["event_id", "user_id"],
            n, 10_000_000))),
        # Depth-capped min-plus BFS: one lazy plan of a join and an
        # aggregate per round; rows per round track the node count.
        timed(f"bfs_x{n}", _bfs(spark, cu_cnt * n)),
        # Simulator lookup over N x schedules and N x airports: the
        # scan and the aggregate's input grow, while the one partition
        # the normalizer window runs in holds one row per destination.
        timed(f"lookup_x{n}", _lookup(spark, n)),
        # Hierarchical reservoir top-k: no whole-group window.
        timed(f"reservoir_x{n}", _rsv(docs_n)),
        # Gram-novelty: narrow per-doc distinct shingles -> first-seen
        # agg -> shingle-keyed join back (Zipf-head fanout question).
        timed(f"novelty_x{n}", _novelty(docs_n)),
        # Mann-Whitney U: same two-shuffle multi-counter cumsum as KS.
        timed(f"mwu_x{n}", _mwu(od_n)),
        # RLE: two user-keyed windows + roll-up.
        timed(f"rle_x{n}", _rle(multiply(
            load_table(spark, args.sf, "events"),
            ["event_id", "user_id"], n, 10_000_000))),
        # PCA projection pass: exploded vectors joined to a 64-row
        # broadcast direction (the cov chain is constant-size; the
        # projection is the data-sized stage probed here).
        timed(f"pcaproj_x{n}", _pcaproj(salt_embs(
            load_table(spark, args.sf, "embeddings"), n, 10_000_000))),
        # BPE trainer loop: corpus collapses to word-freq first, so
        # the k rounds should be vocab-bound, nearly flat in N
        # (build inside the clock: the loop collects per round).
        timed_call(f"bpe_x{n}", lambda: _bpe(spark, docs_n)),
        # Holt/Kalman: per-user pack + codegen fold — linear, no
        # cross-user state.
        timed(f"holt_x{n}", _holt(multiply(
            load_table(spark, args.sf, "events"),
            ["event_id", "user_id"], n, 10_000_000))),
        # SemDeDup with the k knob applied (k = 5n cells at n x the
        # vectors, per the operator's documented scaling rule — cell
        # population stays constant so pair work stays ~N²/k).
        timed_call(f"semdedup_x{n}", lambda: _semdedup(spark, salt_embs(
            load_table(spark, args.sf, "embeddings"), n, 10_000_000),
            5 * n)),
        # Basket pairs: orderkey-blocked pair join — basket sizes are
        # invariant under order multiplication, so work tracks orders.
        timed(f"basket_x{n}", _basket(
            li_n, load_table(spark, args.sf, "part"))),
        # Assortativity: fact join + distinct + keyed degree joins
        # collapsing to one row — tracks edges.
        timed(f"assort_x{n}", _assort(
            li_n, od_n, load_table(spark, args.sf, "part"))),
        timed(f"jaccard_x{n}", _jaccard(multiply(
            load_table(spark, args.sf, "events"), ["user_id"], n,
            10_000_000))),
        timed(f"bollinger_x{n}", _bollinger(li_n)),
        timed_call(f"kcore_x{n}", lambda: _kcore(
            _lsh(salt_docs(docs, n, 10_000_000)))),
        timed(f"crossdedup_x{n}", _crossdedup(
            salt_docs(docs, n, 10_000_000),
            _lsh(salt_docs(docs, n, 10_000_000)))),
        # Wave 6 (round 9): the one heavy bench key without a probe.
        # multiply() (not salt_embs): MMR only needs distinct ids and
        # the same 64-dim value domain — pair structure is irrelevant
        # because nothing pairwise is ever materialized.
        timed_call(f"mmr_x{n}", lambda: _mmr(spark, multiply(
            load_table(spark, args.sf, "embeddings"), ["vec_id"],
            n, 10_000_000))),
        timed(f"rankfam_x{n}", _rankfam(multiply(
            load_table(spark, args.sf, "customer"), ["c_custkey"],
            n, 10_000_000))),
    ]
    base = [
        timed("agg_q1_x1", li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("sq"),
            F.count(F.lit(1)).alias("cnt"),
        )),
        timed("join_fact_x1", od.join(li, od["o_orderkey"] == li["l_orderkey"])
              .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))),
        timed("topk_x1", li.orderBy(
            F.desc("l_extendedprice"), "l_orderkey", "l_linenumber").limit(100)),
        timed("minhash_lsh_x1", _lsh(docs)),
        timed("repetition_x1", _rep(docs)),
        timed("sessionize_x1", _sess(load_table(spark, args.sf, "events"))),
        timed("chunk_x1", _chunk(docs)),
        timed("contaminate_x1", _contam(docs)),
        timed("bloom_x1", _bloom(li, od)),
        timed("snapdiff_x1", _snapdiff(od)),
        timed("merge_x1", _merge(od)),
        timed("zorder_x1", _zorder(od)),
        timed("geo_x1", _geo(load_table(spark, args.sf, "customer"))),
        timed("pagerank_x1", _pagerank(li, od)),
        timed("kmeans_x1", _kmeans(load_table(spark, args.sf, "embeddings"))),
        timed("triangles_x1", _triangles(li, od)),
        timed("rarity_x1", _rarity(docs)),
        timed("invindex_x1", _invindex(docs)),
        timed("bitmap_x1", _bitmap(load_table(spark, args.sf, "events"))),
        timed("setsim_x1", _setsim(salt_docs(docs, 1, 10_000_000))),
        timed("dupspans_x1", _dupspans(salt_docs(docs, 1, 10_000_000))),
        timed("cumsum_x1", _cumsum(od)),
        timed("sweep_x1", _sweep(od)),
        timed("wmedian_x1", _wmedian(li)),
        timed("pctile_x1", _pctile(od)),
        timed("gini_x1", _gini(od, load_table(spark, args.sf, "customer"))),
        timed("ancestors_x1", _ancestors(load_table(spark, args.sf, "part"))),
        timed("cov_x1", _cov(load_table(spark, args.sf, "embeddings"))),
        timed("simjoin_x1", _simjoin(salt_embs(
            load_table(spark, args.sf, "embeddings"), 1, 10_000_000))),
        timed("powiter_x1", _powiter(
            load_table(spark, args.sf, "embeddings"))),
        timed("starcc_x1", _starcc(li.select("l_orderkey", "l_suppkey"))),
        timed("q17_x1", _q17(
            li.select("l_partkey", "l_quantity", "l_extendedprice"))),
        timed("recursive_x1", _recursive(spark, cu_cnt)),
        timed("ks_x1", _ks(od)),
        timed("interp_x1", _interp(load_table(spark, args.sf, "events"))),
        timed("bfs_x1", _bfs(spark, cu_cnt)),
        timed("lookup_x1", _lookup(spark, 1)),
        timed("reservoir_x1", _rsv(docs)),
        timed("novelty_x1", _novelty(docs)),
        timed("mwu_x1", _mwu(od)),
        timed("rle_x1", _rle(load_table(spark, args.sf, "events"))),
        timed("pcaproj_x1", _pcaproj(salt_embs(
            load_table(spark, args.sf, "embeddings"), 1, 10_000_000))),
        timed_call("bpe_x1", lambda: _bpe(spark, docs)),
        timed("holt_x1", _holt(load_table(spark, args.sf, "events"))),
        timed_call("semdedup_x1", lambda: _semdedup(
            spark, salt_embs(
                load_table(spark, args.sf, "embeddings"), 1, 10_000_000),
            5)),
        timed("basket_x1", _basket(li, load_table(spark, args.sf, "part"))),
        timed("assort_x1", _assort(
            li, od, load_table(spark, args.sf, "part"))),
        timed("jaccard_x1", _jaccard(load_table(spark, args.sf, "events"))),
        timed("bollinger_x1", _bollinger(li)),
        timed_call("kcore_x1", lambda: _kcore(
            _lsh(salt_docs(docs, 1, 10_000_000)))),
        timed("crossdedup_x1", _crossdedup(
            salt_docs(docs, 1, 10_000_000),
            _lsh(salt_docs(docs, 1, 10_000_000)))),
        timed_call("mmr_x1", lambda: _mmr(spark, load_table(
            spark, args.sf, "embeddings"))),
        timed("rankfam_x1", _rankfam(
            load_table(spark, args.sf, "customer"))),
    ]
    done = [r for r in results + base if r is not None]
    for r in done:
        print(json.dumps(r))
    by = {r["probe"]: r["sec"] for r in done}
    for stem in ("agg_q1", "join_fact", "topk", "minhash_lsh",
                 "repetition", "sessionize", "chunk", "contaminate",
                 "bloom", "snapdiff", "merge", "zorder",
                 "geo", "pagerank", "kmeans", "triangles",
                 "rarity", "invindex", "bitmap",
                 "setsim", "dupspans", "cumsum", "sweep", "wmedian",
                 "pctile",
                 "gini", "ancestors", "cov", "simjoin",
                 "powiter", "starcc", "q17", "recursive",
                 "ks", "interp", "bfs", "lookup", "reservoir",
                 "novelty", "mwu", "rle", "pcaproj", "bpe",
                 "holt", "semdedup", "basket", "assort",
                 "jaccard", "bollinger", "kcore", "crossdedup",
                 "mmr", "rankfam"):
        if f"{stem}_x{n}" not in by:
            continue
        hi, lo = by[f"{stem}_x{n}"], max(by[f"{stem}_x1"], 0.01)
        print(json.dumps({"probe": f"{stem}_scaling", "ratio_vs_linear":
                          round(hi / lo / n, 2)}))


def _lsh(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators import dedup as D

    return D.lsh_candidate_pairs(D.minhash_signatures(D.shingle_stream(docs)))


def _rep(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.text import repetition_signal

    return repetition_signal(docs)


def _chunk(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.text import tokens

    step = docs.select("doc_id", tokens("text").alias("_tok"))
    ch = step.select(
        "doc_id", "_tok",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("_tok") - 1) / 48).cast("int"))
        ).alias("k"),
    )
    piece = F.slice(F.col("_tok"), F.col("k") * 48 + 1, 64)
    return ch.select(
        "doc_id", F.col("k").alias("chunk_id"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


def _contam(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.dedup import shingle_table

    sh = shingle_table(docs, n=3)
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    train = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _bloom(li: DataFrame, od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import bloom_semi_join

    sel = od.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return bloom_semi_join(li, sel, "l_orderkey", "o_orderkey").groupBy(
        "l_returnflag"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def _snapdiff(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.relational import snapshot_diff

    old = od.filter(F.col("o_orderkey") % 10 != 0)
    new = od.filter(F.col("o_orderkey") % 10 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


def _merge(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.relational import merge_upsert

    src = od.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    return merge_upsert(od, src, ["o_orderkey"])


def _zorder(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import zorder_layout

    return zorder_layout(
        od.select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_custkey",
        "o_totalprice",
    )


def _geo(
    cust: DataFrame, radius_km: float = 150.0, cell_deg: float = 4.0
) -> DataFrame:
    from flirt_consume_spark.functions import synth_coord
    from flirt_consume_spark.operators.spatial import grid_within_radius

    pts = cust.select(
        F.col("c_custkey").alias("key"),
        synth_coord(F.col("c_custkey"), 7, 140, 0.25).alias("lat"),
        synth_coord(F.col("c_custkey"), 131, 360, 0.25).alias("lon"),
    )
    return grid_within_radius(
        pts, "key", "lat", "lon", radius_km=radius_km, cell_deg=cell_deg,
        max_abs_lat=70.0,
    )


def _pagerank(li: DataFrame, od: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    e = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 10_000_000).alias("dst"),
        )
        .distinct()
    )
    e_deg = e.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )
    nodes = (
        e_deg.select(F.col("src").alias("node"))
        .union(e_deg.select(F.col("dst").alias("node")))
        .distinct()
    )
    r = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("r"))
    for _ in range(2):
        contrib = (
            e_deg.join(r, e_deg["src"] == r["node"])
            .groupBy("dst")
            .agg(F.sum(F.expr("(r * 85) DIV (100 * d)")).cast("bigint").alias("c"))
        )
        r = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (F.lit(150_000) + F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint").alias("r"),
        )
    return r


def _kmeans(emb: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    vl = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
    ).select("vec_id", F.col("pos"), F.col("col").alias("x"))
    cents = vl.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("c")
    )
    for _ in range(2):
        d = (
            vl.join(cents, "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(F.floor(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * 1e15
            ).cast("long")).alias("dq"))
        )
        rn = F.row_number().over(Window.partitionBy("vec_id").orderBy("dq", "cid"))
        assign = d.withColumn("rn", rn).filter(F.col("rn") == 1).select(
            "vec_id", "cid"
        )
        cents = (
            assign.join(vl, "vec_id")
            .groupBy("cid", "pos")
            .agg((
                F.sum(F.floor(F.col("x") * 1e9).cast("long")) / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("c"))
        )
    return assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))


def _triangles(li: DataFrame, od: DataFrame, mod: int = 4999) -> DataFrame:
    # mod scales with the input multiplier so average degree (and thus
    # graph density) stays constant: the probe measures the PLAN at
    # n-times the data, not the superlinear wedge growth a densifying
    # graph would exhibit on any engine.
    a = F.col("o_custkey") % mod
    b = F.col("l_suppkey") * 13 % mod
    e = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .filter((F.col("o_totalprice") > 400000) & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    tri = wedges.join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def _sess(ev: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id", "ts",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def _rarity(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators import text as X

    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("cf"))
    return tok.join(freq, "token").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cf") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_hapax"),
        F.min("cf").cast("bigint").alias("min_cf"),
    )


def _invindex(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators import text as X

    pairs = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    ).distinct()
    head = F.slice(F.array_sort(F.collect_set("doc_id")), 1, 8)
    return pairs.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.concat_ws(",", F.transform(head, lambda x: x.cast("string")))
        .alias("postings_head"),
    ).filter(F.col("df") >= 5)


def _bitmap(ev: DataFrame) -> DataFrame:
    words = (
        ev.select(
            "event_type",
            (F.col("user_id") / 64).cast("bigint").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_users")
    )




def salt_embs(emb: DataFrame, n: int, stride: int) -> DataFrame:
    """Embedding multiplication for the similarity-join probe: keys
    shift AND every copy applies its own deterministic sign flip per
    dimension (an orthogonal transform — pairwise cosines WITHIN a
    copy are exactly preserved, so each copy's pair structure equals
    x1, while cross-copy vectors decorrelate). Plain multiply() would
    make copies exact duplicates and pair counts grow quadratically —
    a data property, not a plan property."""
    def _mk_sign(i: int):
        def sign(x, d):
            return x * (
                F.when(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws("_", d.cast("string"), F.lit(str(i)))
                            ),
                            1,
                            2,
                        ),
                        16,
                        10,
                    ).cast("int")
                    % 2
                    == 1,
                    -1.0,
                ).otherwise(1.0)
            )

        return sign

    copies = []
    for i in range(n):
        sign = _mk_sign(i)
        copies.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * stride))
            .withColumn(
                "embedding",
                F.transform(F.col("embedding").cast("array<double>"), sign),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _simjoin(emb: DataFrame, n: int = 1) -> DataFrame:
    from flirt_consume_spark.operators.similarity import banded_similarity_join

    # Apply the operator's documented scale knob, like the geo probe
    # shrinks its radius: band width grows ~log2(n) so per-band pair
    # work (N²/(labels·2^r)) stays linear in rows. A FIXED band width
    # is quadratic — measured 2.5x-vs-linear at 10x before the knob.
    import math

    bits = 2 + (math.ceil(math.log2(n)) if n > 1 else 0)
    return banded_similarity_join(emb, min_cos=0.45, band_bits=bits)


def salt_docs(docs: DataFrame, n: int, stride: int) -> DataFrame:
    """Doc multiplication for TEXT-similarity probes: keys shift AND
    every word gets a per-copy suffix, so copies of the same doc do
    NOT match each other across copies. Plain multiply() would make
    each doc an exact duplicate of its n-1 copies and the pair count
    would grow quadratically — a data property, not a plan property;
    salting keeps each copy family's pair structure identical to x1,
    so measured growth is the plan's."""
    copies = []
    for i in range(n):
        copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * stride))
            .withColumn(
                "text",
                F.regexp_replace(F.col("text"), r"(\S+)", f"$1c{i}"),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _setsim(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators import dedup as D
    from flirt_consume_spark.operators.retrieval import prefix_filtered_pairs

    return prefix_filtered_pairs(D.shingle_table(docs), tau_num=1, tau_den=2)


def _dupspans(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.retrieval import duplicate_spans

    return duplicate_spans(docs)


def _cumsum(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import global_cumsum

    cents = od.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return global_cumsum(
        cents, "cents", [F.col("cents").desc(), F.col("o_orderkey")]
    )


def _sweep(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import global_cumsum

    starts = od.select(
        F.col("o_orderdate").alias("d"), F.lit(1).alias("delta"), "o_orderkey"
    )
    ends = od.select(
        F.date_add("o_orderdate", 7).alias("d"),
        F.lit(-1).alias("delta"),
        "o_orderkey",
    )
    swept = global_cumsum(
        starts.unionByName(ends),
        "delta",
        [F.col("d"), F.col("delta"), F.col("o_orderkey")],
        cum_col="cur",
    )
    return swept.groupBy(F.date_format("d", "yyyy-MM").alias("m")).agg(
        F.max("cur").alias("peak")
    )



def _pctile(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import grouped_percentiles

    return grouped_percentiles(
        od.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        "o_totalprice",
        [F.col("o_orderkey")],
        ps=[0.05, 0.5, 0.95],
        out_cols=["p05", "p50", "p95"],
    )


def _wmedian(li: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import (
        bucketized_weighted_quantile,
    )

    fact = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    return bucketized_weighted_quantile(
        fact, ["l_returnflag"], "cents", "w", q_num=1, q_den=2
    )


def _gini(od: DataFrame, cu: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import global_rank

    x = od.join(cu, od["o_custkey"] == cu["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = global_rank(
        x, [F.col("segment"), F.col("cents"), F.col("o_orderkey")]
    )
    base = ranked.groupBy("segment").agg(F.min("rnk").alias("r0"))
    r = ranked.join(F.broadcast(base), "segment").select(
        "segment", "cents",
        (F.col("rnk") - F.col("r0") + 1).cast("long").alias("rnk"),
    )
    n = F.count("*")
    # Σ rnk·cents exceeds 2^63 beyond ~x30 (rank ~1.5e7 × cents ~6e7
    # × 1.5e7 rows) — the documented extreme-scale fallback: exact
    # DECIMAL(38) accumulation instead of LONG (base.py dsum note).
    rc = F.sum((F.col("rnk") * F.col("cents")).cast("decimal(38,0)"))
    sc = F.sum(F.col("cents").cast("decimal(38,0)"))
    return r.groupBy("segment").agg(
        ((F.lit(2).cast("decimal(38,0)") * rc
          - (n + 1).cast("decimal(38,0)") * sc)
         .cast("double") / (n.cast("double") * sc.cast("double"))).alias("g")
    )


def _ancestors(part: DataFrame) -> DataFrame:
    node = F.col("p_partkey") + 1
    parents = part.select(
        node.alias("node"),
        (F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10)
         .cast("long") % node).alias("parent"),
    ).filter(F.col("parent") > 0)
    frontier = parents.select(
        "node", F.col("parent").alias("anc"), F.lit(1).alias("d")
    )
    out = frontier
    for d in range(2, 9):
        nxt = parents.select(
            F.col("node").alias("pn"), F.col("parent").alias("pp")
        )
        frontier = frontier.join(nxt, frontier["anc"] == nxt["pn"]).select(
            "node", F.col("pp").alias("anc"), F.lit(d).alias("d")
        )
        out = out.unionByName(frontier)
    return out


def _powiter(emb: DataFrame) -> DataFrame:
    # Covariance scanned once; 3 power iterates on the constant dim²
    # matrix (broadcast vector joins) — mirrors emb_power_iteration.
    cov = _cov(emb)
    full = cov.unionByName(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "sxy"
        )
    )
    w = full.groupBy("i").agg(F.sum("sxy").cast("double").alias("w"))
    for _ in range(2):
        vr = w.select(F.col("i").alias("j"), F.col("w").alias("v"))
        w = (
            full.join(F.broadcast(vr), "j")
            .groupBy("i")
            .agg(F.sum(F.col("sxy") * F.col("v")).alias("w"))
        )
    return w


def _starcc(edges: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.dedup import (
        alternating_star_components,
    )

    e = edges.select(
        F.col("l_orderkey").alias("doc_a"),
        # keep the supplier node space disjoint from order keys within
        # every multiplied copy (stride 10M, orderkeys < 2.5M/copy)
        (F.col("l_suppkey") + F.lit(5_000_000)).alias("doc_b"),
    )
    return alternating_star_components(e)


def _cov(emb: DataFrame) -> DataFrame:
    # Upper-triangle product stream via TWO chained posexplodes with a
    # j >= i filter — no per-position slice()/struct allocations (the
    # earlier slice-based generator was allocation-bound: measured
    # 3.6x-vs-linear at x100 purely from GC pressure, same plan shape).
    xs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(floor(x * 1e6) AS LONG))")
        .alias("xl"),
    )
    left = xs.select(F.posexplode("xl").alias("i", "xi"), "xl")
    pairs = left.select(
        "i", "xi", F.posexplode("xl").alias("j", "xj")
    ).filter(F.col("j") >= F.col("i"))
    return pairs.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("sxy")
    )




def _q17(li: DataFrame) -> DataFrame:
    q100 = F.floor(F.col("l_quantity") * 100).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(q100).alias("sq100"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(q100 * 5 * F.col("cnt") < F.col("sq100"))
        .groupBy("l_partkey")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
             .alias("rev_cents"))
    )


def _recursive(spark, n_nodes: int) -> DataFrame:
    # nodes x depth rows cross the 1M default dev guard at 100x; keep a
    # finite runaway guard, just sized for the probe volume.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(100_000_000))
    cu = spark.range(0, n_nodes).select(F.col("id").alias("c_custkey"))
    node = F.col("c_custkey") + 1
    cu.select(
        node.alias("node"),
        (
            F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % (1 + (node.cast("long") / 8).cast("long"))
        ).alias("parent"),
    ).createOrReplaceTempView("par_probe")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT node, parent AS cur, CAST(1 AS BIGINT) AS depth
          FROM par_probe
          UNION ALL
          SELECT w.node, p.parent, w.depth + 1
          FROM walk w JOIN par_probe p ON p.node = w.cur
          WHERE w.cur > 0
        )
        SELECT node, cur AS root, depth FROM walk WHERE cur = 0
        """
    )




def _ks(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import global_cumsum

    vc = od.groupBy(F.col("o_totalprice").alias("v")).agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    cum = global_cumsum(
        vc, ["c_f", "c_o", "c_p"], ["v"], ["cum_f", "cum_o", "cum_p"]
    )
    tot = cum.groupBy().agg(
        *[
            F.max(f"cum_{s}").cast("bigint").alias(f"n_{s}")
            for s in ("f", "o", "p")
        ]
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.max(
                F.abs(F.col("cum_f") * F.col("n_o") - F.col("cum_o") * F.col("n_f"))
            ).alias("d_fo"),
            F.max(
                F.abs(F.col("cum_f") * F.col("n_p") - F.col("cum_p") * F.col("n_f"))
            ).alias("d_fp"),
            F.max(
                F.abs(F.col("cum_o") * F.col("n_p") - F.col("cum_p") * F.col("n_o"))
            ).alias("d_op"),
        )
    )


def _interp(ev: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    base = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("av"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    at = F.when(F.col("av").isNotNull(), F.col("t"))
    b = (
        base.withColumn("pv", F.last("av", ignorenulls=True).over(fwd))
        .withColumn("pt", F.last(at, ignorenulls=True).over(fwd))
        .withColumn("nv", F.first("av", ignorenulls=True).over(bwd))
        .withColumn("nt", F.first(at, ignorenulls=True).over(bwd))
    )
    return b.select(
        "event_id",
        F.when(F.col("pt").isNull() | F.col("nt").isNull(), F.lit(None))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
        .alias("iv"),
    )


def _bfs(spark, n_nodes: int) -> DataFrame:
    # graph_bfs_dist's own relaxation over the same md5 parent map on
    # a contiguous node range (see the recursive_x probe note).
    from flirt_consume_spark.queries.distrib import bfs_dist

    node = F.col("id") + 1
    return bfs_dist(spark.range(0, n_nodes).select(
        node.alias("node"),
        (
            F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % (1 + (node / 8).cast("long"))
        ).alias("parent"),
    ))


def _lookup(spark, n: int) -> DataFrame:
    from flirt_consume_spark.plans.consume import (
        consume_schedules,
        destination_distribution,
        synth_airports,
        synth_schedules,
    )

    legs, _ = consume_schedules(
        synth_schedules(spark, n=500 * n, n_airports=50 * n), synth_airports(spark, 50 * n)
    )
    return destination_distribution(legs, "AAA", "2024-01-01", "2024-03-31")


def _rsv(docs: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    pri = F.md5(F.concat(F.lit("rsv1:"), F.col("doc_id").cast("string")))
    base = docs.select("source", "doc_id", pri.alias("pri"))
    s1 = (
        base.withColumn("bkt", F.pmod(F.col("doc_id"), F.lit(32)))
        .withColumn(
            "rk1",
            F.row_number().over(
                Window.partitionBy("source", "bkt").orderBy("pri", "doc_id")
            ),
        )
        .filter(F.col("rk1") <= 10)
    )
    return s1.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("source").orderBy("pri", "doc_id")),
    ).filter(F.col("rk") <= 10)


def _novelty(docs: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.dedup import shingle_table

    sh = shingle_table(docs)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("n_novel"),
        )
    )


def _mwu(od: DataFrame) -> DataFrame:
    from flirt_consume_spark.operators.scale import global_cumsum

    vc = od.select(
        F.col("o_orderstatus").alias("g"), F.col("o_totalprice").alias("v")
    ).groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == s, 1).otherwise(0))
            .cast("bigint").alias(f"c_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    cum = global_cumsum(
        vc, ["c_f", "c_o", "c_p"], ["v"], ["cum_f", "cum_o", "cum_p"]
    )
    ca, cb = F.col("c_f"), F.col("c_o")
    pa, pb = F.col("cum_f") - ca, F.col("cum_o") - cb
    return cum.groupBy().agg(
        F.sum(ca * (2 * (pa + pb) + (ca + cb) + 1)).cast("bigint").alias("r2"),
        F.sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
        .cast("bigint").alias("t3"),
        F.max("cum_f").alias("n_f"),
        F.max("cum_o").alias("n_o"),
    )


def _rle(ev: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.select(
        "user_id", "event_type", "ts",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint").alias("run_id"),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("run_start"),
        F.count(F.lit(1)).cast("bigint").alias("run_len"),
    )


def _pcaproj(emb: DataFrame) -> DataFrame:
    # Direction coefficients are a constant-size artifact; a synthetic
    # 64-row vl reproduces the projection pass's exact plan shape.
    spark = emb.sparkSession
    vl = spark.range(1, 65).select(
        F.col("id").cast("int").alias("i"), F.lit(7).cast("long").alias("vl")
    )
    xs = emb.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(floor(x * 1e6) AS LONG))")
        ).alias("_i0", "xl"),
    ).select("vec_id", (F.col("_i0") + 1).alias("i"), "xl")
    return (
        xs.join(F.broadcast(vl), "i")
        .groupBy("vec_id")
        .agg(
            (F.sum(F.col("xl") * F.col("vl")).cast("double") / F.lit(1e15))
            .alias("score")
        )
    )


def _bpe(spark, docs: DataFrame) -> DataFrame:
    # Probe-local replica of queries.curation._bpe_fit over an
    # arbitrary docs frame (the product helper is sf_dir-keyed).
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    sym = words.select(
        F.regexp_replace("w", "(.)", "($1)").alias("s"), "freq"
    ).localCheckpoint(eager=True)
    for _ in range(4):
        toks = sym.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(").alias("toks"),
            "freq",
        ).filter(F.size("toks") >= 2)
        pairs = toks.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS a, "
                    "element_at(toks, i + 1) AS b))"
                )
            ).alias("p"),
        ).select("freq", "p.a", "p.b")
        cnt = pairs.groupBy("a", "b").agg(
            F.sum("freq").cast("bigint").alias("cnt")
        )
        best = cnt.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()[0]
        sym = sym.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f"({best['a']})({best['b']})"),
                F.lit(f"({best['a']}{best['b']})"),
            ),
        ).localCheckpoint(eager=True)
    return sym.groupBy().agg(F.count(F.lit(1)).alias("n_words"))


def _holt(ev: DataFrame) -> DataFrame:
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("tt"),
                        F.col("event_id").alias("eid"),
                        F.col("value").alias("x"),
                    )
                )
            ).alias("sarr")
        )
        .select("user_id", F.expr("transform(sarr, s -> s.x)").alias("xs"))
    )
    new_l = "0.5 * x + 0.5 * (acc.l + acc.b)"
    fold = F.expr(
        f"""aggregate(
              slice(xs, 2, greatest(size(xs) - 1, 0)),
              named_struct('l', xs[0], 'b', CAST(0.0 AS DOUBLE)),
              (acc, x) -> named_struct(
                'l', {new_l},
                'b', 0.5 * (({new_l}) - acc.l) + 0.5 * acc.b
              )
            )"""
    )
    return arr.select("user_id", fold.alias("_st")).select(
        "user_id", F.col("_st.l").alias("level"), F.col("_st.b").alias("trend")
    )


def _semdedup(spark, emb: DataFrame, k: int) -> DataFrame:
    # Probe-local cluster-then-dedup with a k-cell Lloyd's pass over
    # an arbitrary embeddings frame (the product helper is
    # sf_dir-keyed); blocking + pairing mirror queries.advanced.
    from pyspark.sql.window import Window

    from flirt_consume_spark.operators.similarity import embed_dup_pairs

    vl = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ),
        )
        .select("vec_id", F.col("pos"), F.col("col").alias("x"))
        .persist()
    )
    seeds = vl.select("vec_id").distinct().orderBy("vec_id").limit(k)
    cents = vl.join(F.broadcast(seeds), "vec_id").select(
        F.col("vec_id").alias("cid"), "pos", F.col("x").alias("c")
    )
    for _ in range(2):
        d = (
            vl.join(cents, "pos")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("x") - F.col("c"))
                        * (F.col("x") - F.col("c")) * 1e15
                    ).cast("long")
                ).alias("dq")
            )
        )
        rn = F.row_number().over(Window.partitionBy("vec_id").orderBy("dq", "cid"))
        assign = d.withColumn("rn", rn).filter(F.col("rn") == 1).select(
            "vec_id", "cid"
        )
        cents = (
            assign.join(vl, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.floor(F.col("x") * 1e9).cast("long")) / F.lit(1e9)
                    / F.count(F.lit(1))
                ).alias("c")
            )
        )
    # Product parity (queries/advanced._semdedup_pairs): persisted
    # assignment + singleton-cell prune — the prune re-reads the
    # bucket frame, so persist it exactly as the product does.
    assign = assign.persist()
    pairs = embed_dup_pairs(
        emb, min_cos=0.3,
        buckets=assign.select("vec_id", F.col("cid").alias("bucket")),
        prune_singletons=True,
    )
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_links"),
    )


def _basket(li: DataFrame, pt: DataFrame) -> DataFrame:
    # market-basket pair counts (r7 shape): ONE collect_set hash agg
    # keyed on l_orderkey + in-row sorted-array pair expansion —
    # per-basket quadratic = linear in orders, no self-join.
    sets = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    return (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (a, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "b -> struct(a AS brand_a, b AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )


def _assort(li: DataFrame, od: DataFrame, pt: DataFrame) -> DataFrame:
    # degree assortativity (r7 shape): ONE collect_set agg keyed on
    # cust (dx = set size in-row) + explode; only the 25-row brand
    # degree table joins back — every stage keyed, linear.
    sets = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.collect_set("p_brand").alias("bs"))
    )
    e = sets.select(
        F.size("bs").cast("bigint").alias("dx"), F.explode("bs").alias("brand")
    )
    dt = e.groupBy("brand").agg(F.count(F.lit(1)).cast("bigint").alias("dy"))
    xy = e.join(F.broadcast(dt), "brand").select("dx", "dy")
    return xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )




def _jaccard(ev: DataFrame) -> DataFrame:
    # graph_node_jaccard shape (r7): ONE collect_set agg per user +
    # in-row sorted-type pair expansion — per-user quadratic stays
    # vocabulary-bounded, linear in users, no self-join.
    sets = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    )
    common = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (a, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "b -> struct(a AS type_a, b AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    deg = sets.select(F.explode("ts").alias("event_type")).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("event_type").alias("type_a"), F.col("d").alias("da"))
    return common.join(F.broadcast(da), "type_a")


def _bollinger(li: DataFrame) -> DataFrame:
    # win_bollinger shape: fact collapses to the calendar-bounded
    # daily series FIRST; the rolling frame runs on constant-size
    # partitions however large the fact side grows.
    from pyspark.sql.window import Window

    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice")).cast("long")).alias("rev")
    )
    win = Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "flag",
        "d",
        F.sum("rev").over(win).alias("s"),
        F.sum(F.col("rev") * F.col("rev")).over(win).alias("ss"),
    )


def _kcore(pairs: DataFrame, rounds: int = 4, k: int = 2) -> DataFrame:
    # graph_kcore shape: synchronized degree-k peeling over the
    # mirrored LSH candidate edge set; each round is O(E) shuffles on
    # a localCheckpoint (no driver state, no broadcast assumption).
    e = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    ).localCheckpoint()
    for _ in range(rounds):
        keep = (
            e.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        e = (
            e.join(keep.withColumnRenamed("node", "s"), "s")
            .join(keep.withColumnRenamed("node", "d"), "d")
            .select("s", "d")
            .localCheckpoint()
        )
    return e.groupBy("s").agg(F.count(F.lit(1)).alias("core_degree"))


def _crossdedup(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    # llm_cross_dedup shape: exact layer = one sha256 semi-join;
    # near layer = the (sparse) LSH candidate pair set joined to the
    # split flags twice on doc_id. Nothing quadratic.
    split = docs.select(
        "doc_id",
        "source",
        ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                 16, 10) % 100) >= 90).alias("heldout"),
        F.sha2(F.col("text"), 256).alias("sha"),
    )
    train = split.filter(~F.col("heldout"))
    held = split.filter(F.col("heldout"))
    exact_leak = (
        train.join(held.select("sha").distinct(), "sha", "semi")
        .select("doc_id").distinct().withColumn("_exact", F.lit(1))
    )
    flags = split.select("doc_id", "heldout")
    pa = flags.select(F.col("doc_id").alias("doc_a"), F.col("heldout").alias("ha"))
    pb = flags.select(F.col("doc_id").alias("doc_b"), F.col("heldout").alias("hb"))
    pj = pairs.join(pa, "doc_a").join(pb, "doc_b")
    near_leak = (
        pj.filter(~F.col("ha") & F.col("hb"))
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pj.filter(F.col("ha") & ~F.col("hb"))
            .select(F.col("doc_b").alias("doc_id"))
        )
        .distinct().withColumn("_near", F.lit(1))
    )
    return (
        train.select("doc_id", "source")
        .join(exact_leak, "doc_id", "left")
        .join(near_leak, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(F.col("_exact").isNotNull(), 1).otherwise(0)).alias("n_exact"),
            F.sum(F.when(F.col("_near").isNotNull(), 1).otherwise(0)).alias("n_near"),
        )
    )


def _rankfam(cu: DataFrame) -> DataFrame:
    # win_rank shape: the full SQL ranking family from distributed
    # grouped_rank (5 segments would serialize native windows into 5
    # reducers). Rows multiply while the segment count stays 5, so
    # time must track the range shuffle; the round-9 fold joins the
    # tie-class frame back to the ranked fact ONCE.
    from flirt_consume_spark.operators.scale import ranking_family

    return ranking_family(
        cu.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_mktsegment"],
        ["c_acctbal"],
        [F.col("c_custkey")],
        k=4,
        descending=True,
    ).filter(F.col("rn") <= 10)


def _mmr(spark, emb: DataFrame, k: int = 5) -> DataFrame:
    # emb_mmr shape (queries/retrieval.py): greedy diversified top-k.
    # One pass builds the long form + relevance (64-row broadcast
    # query); each of the k rounds folds ONE selected vector's dot
    # products into the running max-sim — per-round cost is one scan
    # over (vec_id, rel, ms) state plus a 64-row broadcast join, and
    # the only driver traffic is the 1-row argmax. With k fixed, time
    # must track the vector count.
    xs = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.expr(
                    "transform(embedding, x -> CAST(floor(x * 1e6) AS LONG))"
                )
            ).alias("_i0", "xl"),
        )
        .select("vec_id", (F.col("_i0") + 1).alias("i"), "xl")
        .persist()
    )
    qv = xs.filter(F.col("vec_id") == 0).select("i", F.col("xl").alias("qxl"))
    rel = (
        xs.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xl") * F.col("qxl")).cast("bigint").alias("rel"))
    )
    state = rel.withColumn(
        "ms", F.lit(-(1 << 62)).cast("bigint")
    ).localCheckpoint(eager=True)
    picks = []
    for rank in range(1, k + 1):
        top = (
            state.orderBy((2 * F.col("rel") - F.col("ms")).desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not top:
            break
        best = top[0]
        picks.append((rank, best["vec_id"], best["rel"], best["ms"]))
        svec = xs.filter(F.col("vec_id") == best["vec_id"]).select(
            "i", F.col("xl").alias("sxl")
        )
        dots = (
            xs.join(F.broadcast(svec), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("xl") * F.col("sxl")).cast("bigint").alias("dot"))
        )
        state = (
            state.filter(F.col("vec_id") != best["vec_id"])
            .join(dots, "vec_id")
            .withColumn("ms", F.greatest(F.col("ms"), F.col("dot")))
            .drop("dot")
            .localCheckpoint(eager=True)
        )
    xs.unpersist()
    return spark.createDataFrame(
        picks, "sel_rank bigint, vec_id bigint, rel bigint, ms bigint"
    )


if __name__ == "__main__":
    main()
