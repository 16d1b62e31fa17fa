"""Scale-infrastructure behavior: bucketed joins eliminate the
shuffle; salted joins keep results identical and spread hot keys;
global_rank matches a single-reducer window without using one."""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.io import load_table
from flirt_consume_spark.operators.scale import (
    global_rank,
    salted_join,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # saveAsTable writes to ./spark-warehouse (gitignored).
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(orders, "b_orders", ("o_orderkey",), 8)
    write_bucketed(lineitem, "b_lineitem", ("l_orderkey",), 8)
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    j = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy("o_orderstatus").count()
    p = plan_of(j)
    join_section = p.split("HashAggregate")[0]
    assert "Exchange" not in join_section.split("SortMergeJoin")[0] or (
        p.count("Exchange") <= 1
    ), f"bucketed join still shuffles both sides:\n{p}"
    # ground truth: same result as the unbucketed join
    want = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_matches_plain_join(spark):
    customer = load_table(spark, SF, "customer").withColumnRenamed(
        "c_nationkey", "n_nationkey"
    )
    nation = load_table(spark, SF, "nation")
    got = (
        salted_join(customer, nation, "n_nationkey")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = (
        customer.join(nation, "n_nationkey")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_rejects_outer(spark):
    customer = load_table(spark, SF, "customer").withColumnRenamed(
        "c_nationkey", "n_nationkey"
    )
    nation = load_table(spark, SF, "nation")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(customer, nation, "n_nationkey", how="full")


def test_global_rank_matches_window_rank(spark):
    orders = load_table(spark, SF, "orders")
    cols = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    got = global_rank(orders, cols).select("o_orderkey", "rnk")
    w = Window.orderBy(*cols)
    want = orders.select("o_orderkey", F.row_number().over(w).alias("rnk"))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # and the plan never funnels the table through one partition:
    # no Window node at all, offsets come from the triangular join
    p = plan_of(got)
    assert "Window" not in p, p


def test_salt_spreads_rows(spark):
    customer = load_table(spark, SF, "customer")
    salted = customer.withColumn(
        "_salt", F.pmod(F.xxhash64(*customer.columns), F.lit(8))
    )
    counts = [r.cnt for r in salted.groupBy("_salt").agg(
        F.count(F.lit(1)).alias("cnt")).collect()]
    assert len(counts) == 8
    assert max(counts) < 2.5 * min(counts), f"salt skewed: {counts}"


def _files_overlapping_box(path, x_col, x_lo, x_hi, y_col, y_lo, y_hi):
    """Count (data files, files whose footer min/max stats overlap the
    box) — exactly the skipping decision a stats-aware scan makes."""
    import os

    import pyarrow.parquet as pq

    total = hit = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            x_min = min(
                md.row_group(g).column(names[x_col]).statistics.min
                for g in range(md.num_row_groups)
            )
            x_max = max(
                md.row_group(g).column(names[x_col]).statistics.max
                for g in range(md.num_row_groups)
            )
            y_min = min(
                md.row_group(g).column(names[y_col]).statistics.min
                for g in range(md.num_row_groups)
            )
            y_max = max(
                md.row_group(g).column(names[y_col]).statistics.max
                for g in range(md.num_row_groups)
            )
            if x_min <= x_hi and x_max >= x_lo and y_min <= y_hi and y_max >= y_lo:
                hit += 1
    return total, hit


def test_zorder_layout_skips_box_queries(spark, tmp_path):
    """Writing along the Z-curve must make parquet footer stats prune a
    two-column box predicate far better than natural (single-column)
    order — the measurable point of the layout."""
    from flirt_consume_spark.operators.scale import zorder_layout

    orders = load_table(spark, SF, "orders")
    lo_x, hi_x = orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    lo_y, hi_y = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    # middle-quarter box in both dimensions (1/16 of the area)
    x_lo, x_hi = lo_x + (hi_x - lo_x) * 0.375, lo_x + (hi_x - lo_x) * 0.625
    y_lo, y_hi = lo_y + (hi_y - lo_y) * 0.375, lo_y + (hi_y - lo_y) * 0.625

    z_path = str(tmp_path / "zorder")
    n_path = str(tmp_path / "natural")
    zorder_layout(orders, "o_custkey", "o_totalprice", n_files=16).drop(
        "_z"
    ).write.parquet(z_path)
    orders.repartitionByRange(16, "o_orderkey").write.parquet(n_path)

    z_total, z_hit = _files_overlapping_box(
        z_path, "o_custkey", x_lo, x_hi, "o_totalprice", y_lo, y_hi
    )
    n_total, n_hit = _files_overlapping_box(
        n_path, "o_custkey", x_lo, x_hi, "o_totalprice", y_lo, y_hi
    )
    assert z_total == n_total == 16
    # natural order is uncorrelated with both dims: ~every file overlaps
    assert n_hit >= 12, f"baseline unexpectedly prunable: {n_hit}"
    # the z-layout must skip at least half the files for a 1/16 box
    assert z_hit <= 8, f"z-order failed to cluster: {z_hit}/{z_total}"
    # and the data survives intact
    assert spark.read.parquet(z_path).count() == orders.count()


def test_bloom_semi_join_exact_and_selective(spark):
    """The bloom prefilter must (a) never drop a true match — the
    composed semi join equals the plain one — and (b) actually filter:
    rows surviving the bitmap probe are far fewer than the fact table
    and barely more than the true matches (bounded false positives)."""
    from flirt_consume_spark.operators.scale import (
        bloom_prefilter,
        bloom_semi_join,
    )

    li = load_table(spark, SF, "lineitem")
    sel = load_table(spark, SF, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    got = bloom_semi_join(li, sel, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_linenumber"
    )
    want = li.join(
        sel.select("o_orderkey").distinct(),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    ).select("l_orderkey", "l_linenumber")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    n_total = li.count()
    n_true = want.count()
    n_probe = bloom_prefilter(li, sel, "l_orderkey", "o_orderkey").count()
    assert n_true <= n_probe < n_total * 0.5, (n_true, n_probe, n_total)


def test_embed_dedup_n_planes_refines_buckets(spark):
    """n_planes is llm_embed_dedup's scale knob: plane p's md5 weights
    do not depend on the plane count, so a 16-plane bucket extends the
    8-plane bucket by 8 high bits — the 16-plane pair set must equal
    the 8-plane pair set restricted to pairs sharing the refined
    bucket (monotone refinement, no churn)."""
    from flirt_consume_spark.io import load_table
    from flirt_consume_spark.operators.similarity import (
        embed_dup_pairs,
        hyperplanes,
        lsh_buckets,
    )

    emb = load_table(spark, SF, "embeddings")
    p8 = {
        (r.vec_a, r.vec_b)
        for r in embed_dup_pairs(emb, min_cos=-1.0, n_planes=8).collect()
    }
    p16 = {
        (r.vec_a, r.vec_b)
        for r in embed_dup_pairs(emb, min_cos=-1.0, n_planes=16).collect()
    }
    assert p16 <= p8 and len(p16) > 0
    b16 = {
        r.vec_id: r.bucket
        for r in lsh_buckets(emb, hyperplanes(spark, n_planes=16)).collect()
    }
    # low 8 bits of the 16-plane bucket = the 8-plane bucket
    b8 = {
        r.vec_id: r.bucket
        for r in lsh_buckets(emb, hyperplanes(spark, n_planes=8)).collect()
    }
    assert all(b16[v] & 255 == b8[v] for v in b8)
    expected = {(a, b) for (a, b) in p8 if b16[a] == b16[b]}
    assert p16 == expected


def test_grouped_rank_matches_window(spark):
    from flirt_consume_spark.operators.scale import grouped_rank

    df = load_table(spark, SF, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    got = (
        grouped_rank(
            df, ["o_orderstatus"], [F.col("o_totalprice"), F.col("o_orderkey")],
            rank_col="r",
        )
        .select("o_orderkey", "r")
        .toPandas()
        .set_index("o_orderkey")["r"]
    )
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    ref = (
        df.select("o_orderkey", F.row_number().over(w).cast("long").alias("r"))
        .toPandas()
        .set_index("o_orderkey")["r"]
    )
    assert got.sort_index().equals(ref.sort_index())


def test_grouped_cumsum_matches_window(spark):
    from flirt_consume_spark.operators.scale import grouped_cumsum

    df = load_table(spark, SF, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        # include negatives: the offset must use the first-row
        # identity, not monotonicity
        ((F.col("o_custkey") % 11) - 5).cast("bigint").alias("v"),
    )
    got = (
        grouped_cumsum(
            df, "v", ["o_orderstatus"], [F.col("o_orderkey")], cum_col="cv"
        )
        .select("o_orderkey", "cv")
        .toPandas()
        .set_index("o_orderkey")["cv"]
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = (
        df.select("o_orderkey", F.sum("v").over(w).cast("long").alias("cv"))
        .toPandas()
        .set_index("o_orderkey")["cv"]
    )
    assert got.sort_index().equals(ref.sort_index())


def test_grouped_rank_cardinality_guard(spark):
    from flirt_consume_spark.operators.scale import grouped_rank

    df = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # o_orderkey is unique: grouping by it blows any small ceiling.
    # The guard is lazy (in-plan raise_error), so it fires at action.
    with pytest.raises(Exception, match="bounded-cardinality"):
        grouped_rank(
            df, ["o_orderkey"], [F.col("o_orderstatus")],
            rank_col="r", max_groups=10,
        ).collect()


def test_grouped_cumsum_cardinality_guard(spark):
    from flirt_consume_spark.operators.scale import grouped_cumsum

    df = load_table(spark, SF, "orders").select(
        "o_orderkey", F.lit(1).cast("bigint").alias("v")
    )
    with pytest.raises(Exception, match="bounded-cardinality"):
        grouped_cumsum(
            df, "v", ["o_orderkey"], [F.col("v")],
            cum_col="cv", max_groups=10,
        ).collect()


def test_grouped_percentiles_cardinality_guard(spark):
    """ADVICE r7: the per-group bounds frame rides its own broadcast on
    a different plan branch than grouped_rank's guard — it must carry
    its own in-plan ceiling."""
    from flirt_consume_spark.operators.scale import grouped_percentiles

    df = load_table(spark, SF, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("v")
    )
    with pytest.raises(Exception, match="bounded-cardinality"):
        grouped_percentiles(
            df, ["o_orderkey"], "v", [F.col("o_orderkey")],
            ps=[0.5], out_cols=["p50"], max_groups=10,
        ).collect()


def test_ntile_expr_exact_past_double_precision(spark):
    """ntile_expr divides in BIGINT: past 2^53 a double quotient rounds
    (2^58 + 1 reads as 2^58), which moves a tile boundary by a row."""
    from flirt_consume_spark.operators.scale import ntile_expr

    base = 2**58
    n = 4 * base + 3  # tiles 1-3 hold base + 1 rows, tile 4 holds base
    want = [
        (1, 1), (base + 1, 1), (base + 2, 2), (2 * base + 2, 2),
        (2 * base + 3, 3), (3 * base + 3, 3), (3 * base + 4, 4), (n, 4),
    ]
    df = spark.createDataFrame(
        [(rn, n) for rn, _ in want], "rn bigint, _n bigint"
    )
    got = df.select("rn", ntile_expr("rn", "_n", 4).alias("nt")).collect()
    assert [(r.rn, r.nt) for r in got] == want


def test_nullsafe_equi_join_rejects_right_and_full(spark):
    """ADVICE r9: the helper drops right-side key columns pre-join, so
    right/full joins would surface right-only rows with NULL keys
    instead of their actual keys (real USING coalesces) — unsupported
    `how` values must fail fast."""
    from flirt_consume_spark.operators.scale import _nullsafe_equi_join

    left = spark.createDataFrame([(1, "a")], "k int, l string")
    right = spark.createDataFrame([(2, "b")], "k int, r string")
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="unsupported"):
            _nullsafe_equi_join(left, right, ["k"], how=how)
    # inner and left still work — including Spark's equivalent
    # spellings of left (ADVICE r10: aliases must not be rejected).
    for how in ("left", "left_outer", "leftouter"):
        assert _nullsafe_equi_join(left, right, ["k"], how=how).count() == 1


def test_semi_prune_gate_static_probe(spark):
    """r13 (VERDICT r12 task 6): the ASIA-prune class of semi-join
    prefilter must be a NO-OP at test scale (the probe sees a small
    frame; r12 measured the ungated prune as a local loss) and must
    ENGAGE, result-identically, when the pruned side is estimated
    over the gate (the 100-TB case, forced here with threshold=0)."""
    from flirt_consume_spark.operators.scale import semi_prune_if_large

    cust = load_table(spark, SF, "customer")
    nation = load_table(spark, SF, "nation")
    region = load_table(spark, SF, "region").filter(F.col("r_name") == "ASIA")
    keys = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey,
        "left_semi",
    ).select(F.col("n_nationkey").alias("_ak"))
    cond = F.col("c_nationkey") == F.col("_ak")
    # default gate: local estimate is tiny -> identity (plan unchanged)
    assert semi_prune_if_large(cust, keys, cond) is cust
    # forced gate: the prune engages and keeps exactly the rows the
    # downstream equi-join would keep anyway
    pruned = semi_prune_if_large(cust, keys, cond, threshold=0)
    assert pruned is not cust
    expected = cust.join(
        F.broadcast(keys), cond, "left_semi"
    )
    assert pruned.count() == expected.count()
    assert pruned.exceptAll(expected).count() == 0
    # plan carries the semi join
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # a session with broadcast disabled never force-broadcasts the keys
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        huge = 1 << 62  # an estimate far over any enabled threshold
        assert semi_prune_if_large(cust, keys, cond, probe_bytes=huge) is cust
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

