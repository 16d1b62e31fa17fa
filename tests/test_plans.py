"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely
on at 100 TB must actually fire at any scale — pushdown, pruning,
broadcast joins, partial aggregation, top-k without global sort.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table
from flirt_consume_spark.queries import REGISTRY
from tools.audit_plans import audit

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 49).select("l_orderkey", "l_quantity")
    p = plan_of(q)
    assert "PushedFilters" in p and "GreaterThan(l_quantity" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, "column pruning failed"


def test_dim_joins_are_broadcast(spark):
    p = plan_of(REGISTRY["join_enrich"].fn(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p


def test_range_join_is_hash_not_nested_loop(spark):
    p = plan_of(REGISTRY["join_range"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_agg_is_partial_hash(spark):
    p = plan_of(REGISTRY["agg_route"].fn(spark, SF))
    # partial (map-side) + final hash aggregation around one exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_topk_avoids_global_sort(spark):
    p = plan_of(REGISTRY["topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_expansion_is_narrow(spark):
    p = plan_of(REGISTRY["expand_schedule"].fn(spark, SF))
    assert "Generate explode" in p or "Generate" in p
    assert "Exchange" not in p, "schedule expansion must not shuffle"


def test_session_confs_applied(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # Build-time confs: no call-site capture per Column call, and a
    # generated-code cache that holds the registry's classes.
    assert is_debugging_enabled() is False
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000"


def test_vocab_topk_avoids_global_sort(spark):
    p = plan_of(REGISTRY["llm_vocab"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p, p


def test_split_assign_is_single_agg_shuffle(spark):
    # md5 bucketing is narrow; the only exchange is the 3-group agg.
    p = plan_of(REGISTRY["split_assign"].fn(spark, SF))
    assert p.count("HashAggregate") >= 2
    n_exchange = p.count("Exchange")
    assert n_exchange <= 2, p  # agg exchange (+AQE coalesce read)


def test_pack_sequences_partitions_by_source(spark):
    # The packing cumsum must NOT serialize through one partition.
    p = plan_of(REGISTRY["pack_sequences"].fn(spark, SF))
    assert "hashpartitioning(source" in p, p


def test_chunking_is_narrow(spark):
    # Context-window chunking must be embarrassingly parallel: a
    # Generate (explode) over per-row sequences, zero exchanges.
    p = plan_of(REGISTRY["llm_chunk"].fn(spark, SF))
    assert "Generate" in p
    assert "Exchange" not in p, "chunking must not shuffle"


def test_contamination_probe_broadcasts_benchmark(spark):
    # The benchmark gram set is ~1% of the corpus; probing must
    # broadcast it, never shuffle the training shingle stream into a
    # sort-merge join against it.
    p = plan_of(REGISTRY["llm_contaminate"].fn(spark, SF))
    assert "BroadcastHashJoin" in p, p


@pytest.mark.parametrize(
    "key,group,k",
    [
        ("win_rank", "c_mktsegment", 10),
        ("quota_per_source", "lang", 100),
        ("llm_corpus_pipeline", "source", 150),
    ],
)
def test_topk_per_group_limits_before_exchange(spark, key, group, k):
    # A per-group top-k must never hand one reducer a whole group of a
    # data-sized table. A row_number window filtered to <= k is planned
    # with a partial WindowGroupLimit directly below the group's
    # exchange, so each reducer receives at most k rows per map
    # partition and group.
    p = plan_of(REGISTRY[key].fn(spark, SF), "simple")
    assert re.search(
        rf"Exchange hashpartitioning\({group}#\d+, \d+\).*\n[ :]*\+- "
        rf"WindowGroupLimit \[{group}#\d+\], .*row_number\(\), {k}, Partial$",
        p,
        re.M,
    ), p
    assert "_pid" not in p, p


@pytest.mark.parametrize(
    "key,max_jobs",
    [
        ("audit_chisq", 2),
        ("audit_benford", 2),
        ("agg_cuped", 3),
        ("time_pettitt", 4),
        ("time_cusum", 2),
        ("emb_power_iteration", 11),
        ("emb_pca_project", 13),
    ],
)
def test_bounded_frame_totals_are_windows(spark, jobs_started, key, max_jobs):
    # Totals, running sums and peaks over a frame of fixed size (cells,
    # digits, arms, months, days, dimensions) are windows over that
    # frame coalesced to one partition: no 1-row broadcast crossed back
    # in, no range-partitioned prefix sum, and no job for either. Only
    # time_pettitt's pair join over its monthly series stays a nested
    # loop. max_jobs counts the build and a noop action together.
    plans = []

    def run():
        df = REGISTRY[key].fn(spark, SF)
        df.write.format("noop").mode("overwrite").save()
        plans.append(plan_of(df))

    spark.catalog.clearCache()
    n_jobs = jobs_started(run)
    p = plans[0]
    nested = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", p, re.M))
    assert nested == (key == "time_pettitt"), p
    assert "rangepartitioning" not in p and "_pid" not in p, p
    assert n_jobs <= max_jobs, n_jobs


def test_audit_flags_partitionless_windows(spark):
    # The plan audit's single_partition_window flag fires for a Window
    # without a partition spec, also when coalesce(1) feeds it and no
    # SinglePartition exchange is planned, and only for such a Window.
    from pyspark.sql import Window

    df = spark.range(100).withColumn("g", F.col("id") % 3)
    windows = {
        Window.partitionBy("g"): [],
        Window.partitionBy("g").orderBy("id"): [],
        Window.partitionBy(): ["single_partition_window"],
        Window.orderBy("id"): ["single_partition_window"],
    }
    for w, flags in windows.items():
        for src in (df, df.coalesce(1)):
            q = src.withColumn("s", F.sum("id").over(w))
            assert audit("k", q)["flags"] == flags, plan_of(q)


def test_partitioned_sink_scan_prunes_partitions(spark, tmp_path):
    """Reading one month back from a month-partitioned sink must prune
    at the scan (PartitionFilters on month_key), not read-then-filter
    — the difference between scanning 1/N and N/N of a 100-TB sink."""
    from flirt_consume_spark.io import with_month_key, write_partitioned

    ev = with_month_key(load_table(spark, SF, "events"), "ts")
    path = str(tmp_path / "part_sink")
    write_partitioned(ev, path, ("month_key",))
    month = ev.select(F.min("month_key")).collect()[0][0]
    q = spark.read.parquet(path).filter(F.col("month_key") == month)
    p = plan_of(q)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "month_key" in pf[0], p
    assert q.count() == ev.filter(F.col("month_key") == month).count()


def test_geo_join_is_hash_join_not_cartesian(spark):
    """J10: the grid join must plan as an equi (hash) join on cell
    ids — never CartesianProduct/nested-loop over the points."""
    p = plan_of(REGISTRY["join_geo"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_quantize_is_zero_shuffle(spark):
    """L17: per-vector quantization is embarrassingly parallel."""
    p = plan_of(REGISTRY["emb_quantize"].fn(spark, SF))
    assert "Exchange" not in p, p


def test_winsorize_broadcasts_percentiles(spark):
    """A12: the tiny per-group percentile table must broadcast — the
    fact side re-shuffles only for its own groupBy."""
    p = plan_of(REGISTRY["agg_winsorize"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dpp_prunes_fact_partitions(spark):
    """J12: the day-partitioned fact scan must carry a dynamicpruning
    partition filter fed by the dim subquery — partitions the dim
    doesn't select are never read."""
    p = plan_of(REGISTRY["join_dpp"].fn(spark, SF))
    assert "dynamicpruning" in p.lower(), p


def test_setsim_no_cartesian_anywhere(spark):
    """Prefix-filtered set-similarity join: candidates only via the
    prefix equi-join — no CartesianProduct, no nested loop anywhere."""
    p = plan_of(REGISTRY["join_setsim"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dupspans_hot_gram_cap_is_broadcast_anti(spark):
    """The hot-gram guard must be a broadcast LeftAnti join (tiny hot
    set shipped to the gram stream), and nothing may plan cartesian."""
    p = plan_of(REGISTRY["llm_dupspans"].fn(spark, SF))
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin LeftAnti" in p) or (
        "LeftAnti, BuildRight" in p
    ), p


def test_global_cumsum_windows_are_partitioned(spark):
    """agg_abc and agg_concurrency run on global_cumsum: every Window
    node must carry a partition spec (the _pid clause) — a
    partition-less window would serialize the whole table through one
    reducer."""
    import re

    for key in ("agg_abc", "agg_concurrency"):
        p = plan_of(REGISTRY[key].fn(spark, SF))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
            assert m.group(1).strip().startswith("_pid"), (key, m.group(0))


def test_global_cumsum_samples_ranges_exactly_once(spark):
    """global_rank / global_cumsum bake the physical layout into data
    (_pid / _loc) and fan several plan legs out of the ranged subtree;
    without materialization each leg re-plans its own range exchange
    (column pruning defeats ReusedExchange) and AQE coalesces each
    independently — layouts can diverge and mis-sum. Pin the fix:
    every leg must scan the shared materialized RDD (the lazy
    localCheckpoint, whose range exchange ran once during block
    materialization), so NO rangepartitioning exchange may appear in
    the consuming plan."""
    from pyspark.sql import functions as F

    from flirt_consume_spark.operators.scale import global_cumsum, global_rank

    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("long").alias("v")
    )
    for out in (
        global_cumsum(df, "v", [F.col("k")]),
        global_rank(df, [F.col("k")]),
    ):
        out.collect()
        p = out._jdf.queryExecution().executedPlan().toString()
        assert p.count("rangepartitioning") == 0, p
        assert "Scan ExistingRDD" in p, p


def test_global_cumsum_correct_without_exchange_reuse(spark):
    """With spark.sql.exchange.reuse=false the two legs may range-
    sample different boundaries; scale.py must materialize the ranged
    subtree once so the result is still the exact prefix sum."""
    from pyspark.sql import functions as F

    from flirt_consume_spark.operators.scale import global_cumsum

    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = spark.range(0, 5000).select(
            F.col("id").alias("k"),
            ((F.col("id") * 37) % 11 - 5).cast("long").alias("v"),
        )
        got = {
            r.k: r.cs
            for r in global_cumsum(df, "v", [F.col("k")], cum_col="cs")
            .collect()
        }
        run = 0
        for k in range(5000):
            run += (k * 37) % 11 - 5
            assert got[k] == run, (k, got[k], run)
    finally:
        spark.conf.unset("spark.sql.exchange.reuse")


def test_subquery_shapes_decorrelate(spark):
    """The Q21/Q22/Q2 shapes must plan as hash joins, not per-row
    subquery execution: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti,
    the correlated scalar min -> aggregate + equi-join. A plan that
    kept a correlated subquery node would re-execute per outer row —
    the exact thing that cannot run at 100 TB."""
    # sql_waiting_orders (r12): the EXISTS/NOT EXISTS pair no longer
    # reaches the planner at all — the correlation state is one
    # per-(order, supplier) aggregation + per-order window counts, so
    # the evidence is: exactly ONE lineitem scan (the semi/anti forms
    # scanned it three times), a Window keyed on l_orderkey, and no
    # surviving subquery/semi/anti machinery.
    p = plan_of(REGISTRY["sql_waiting_orders"].fn(spark, SF))
    assert p.count("lineitem.parquet") == 1, p
    assert "Window" in p, p
    assert "LeftSemi" not in p and "LeftAnti" not in p, p
    p = plan_of(REGISTRY["sql_distant_customers"].fn(spark, SF))
    assert "LeftAnti" in p, p
    p = plan_of(REGISTRY["sql_min_cost"].fn(spark, SF))
    assert "min(" in p and "Join" in p, p
    for key in ("sql_waiting_orders", "sql_distant_customers", "sql_min_cost"):
        pl = plan_of(REGISTRY[key].fn(spark, SF))
        assert "CartesianProduct" not in pl, (key, pl)


def test_top_customers_aggregates_before_join(spark):
    """Q18 shape: the per-order quantity rollup (with the HAVING cut)
    must sit BELOW the orders/customer joins — aggregating after the
    join would shuffle the whole fact table through the dimensions."""
    p = plan_of(REGISTRY["shape_top_customers"].fn(spark, SF))
    agg_pos = p.find("HashAggregate")
    join_pos = p.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # the deepest aggregate appears after (physically below) the joins
    assert p.rfind("HashAggregate") > join_pos, p


def test_q6_pushes_all_three_predicates(spark):
    """SH11: the Q6 shape's date range, discount band and quantity cap
    must ALL reach the parquet scan — at 100 TB row-group stats do
    the work, not the executors."""
    p = plan_of(REGISTRY["shape_forecast_revenue"].fn(spark, SF))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema, "column pruning failed"


def test_q19_disjunction_keeps_equijoin(spark):
    """SH16: the three-arm OR across the join must not defeat the
    equi-join — a BroadcastHashJoin on partkey, never a nested loop;
    the derivable brand disjunct must land in the part scan."""
    p = plan_of(REGISTRY["shape_disjunctive_revenue"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_lateral_decorrelates_to_rank(spark):
    """P7: the per-nation LATERAL ORDER BY/LIMIT subquery must plan as
    a rank-within-partition (Window + filter), not one scan per outer
    row, and join hash-side, never nested-loop."""
    p = plan_of(REGISTRY["sql_lateral"].fn(spark, SF))
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_nullsafe_join_is_hash_join(spark):
    """J17: EqualNullSafe keys must still hash-join (Spark coalesces
    the key to a proxy) — the null-safe form must not pay a
    nested-loop penalty."""
    p = plan_of(REGISTRY["join_nullsafe"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pivot_has_no_distinct_values_pass(spark):
    """A25: with an explicit IN list the PIVOT must compile to ONE
    conditional aggregation over the fact — no separate
    distinct-values collection job (the cost the DataFrame form
    without values pays)."""
    import re

    df = REGISTRY["sql_pivot"].fn(spark, SF)
    p = plan_of(df)
    # exactly one physical scan node (formatted output names each node
    # twice: once in the tree, once as a "(n) Scan parquet" detail)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_range_frame_is_single_window_pass(spark):
    """W16: the trailing-hour RANGE frame must be one window over one
    exchange — no self-join materialization of the frame."""
    p = plan_of(REGISTRY["win_range_hour"].fn(spark, SF))
    assert "Window" in p
    assert "Join" not in p, p
