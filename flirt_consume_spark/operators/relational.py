"""Relational core: projection, filters, joins, aggregation, set ops.

Covers SURVEY.md §2.B (P1–P4), §2.C (J1–J5), §2.D (A1–A7),
§2.G (O1–O4). Everything here is built-in Catalyst-visible
expressions — zero UDFs — so predicate pushdown, column pruning,
partial aggregation, broadcast selection and whole-stage codegen all
apply untouched.

Scale notes:
- dimension joins (J1) broadcast explicitly: region/nation/customer
  style dims stay small even at 100 TB fact scale, so the join is
  shuffle-free on the fact side;
- fact×fact joins (J4) are left to Catalyst/AQE — sort-merge with
  runtime skew splitting;
- range joins (J5, see queries/relational.py join_range) always carry
  an equi key (natural, or a coarse time bucket) so they plan as hash
  joins with a residual range predicate, never a nested loop over the
  cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- P: projection / filters --------------------------------------------


def project_rename(orders: DataFrame) -> DataFrame:
    """P1: select / rename / computed columns.

    Models the reference's raw-extract -> canonical-schema projection
    (~50 raw CSV fields down to the engine schema, SURVEY.md §2.B P1).
    """
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.upper(F.col("o_orderstatus")).alias("status"),
        F.round(F.col("o_totalprice"), 2).alias("total_price"),
        F.to_date("o_orderdate").alias("order_date"),
        F.concat_ws("-", F.lit("PRI"), F.col("o_orderpriority")).alias("priority_tag"),
    )


def filter_valid(lineitem: DataFrame) -> DataFrame:
    """P2: validity filter — the reference drops rows with missing
    route endpoints / non-passenger service / zero seats; modeled as
    the equivalent null/domain/positivity predicate on lineitem.
    """
    return lineitem.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_returnflag").isin("A", "N", "R")
        & (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
    )


def first_per_key(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """P3/W5 core: keep exactly one row per natural key, the first
    under ``order`` (a list of sort columns, directions included) —
    the reference's operating-carrier-wins codeshare dedup, and with
    descending columns the latest-wins upsert. Window-rank based so it
    is deterministic (dropDuplicates is not).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_predicates(orders: DataFrame) -> DataFrame:
    """P4: BETWEEN / IN / LIKE / CASE WHEN / null-safe predicates —
    the simulator-style date-window filters (SURVEY.md §3.1.3).
    """
    return orders.filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
        & F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderpriority").like("%URGENT%")
    ).select(
        "o_orderkey",
        "o_orderdate",
        F.when(F.col("o_totalprice") >= 100000, F.lit("big"))
        .when(F.col("o_totalprice") >= 10000, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    )


# --- J: joins -------------------------------------------------------------


def enrich_dims(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """J1: dimension enrichment via explicit broadcast hash joins.

    The reference enriches each flight with its origin and destination
    airport documents (two lookups against a small dimension); here the
    dims are customer -> nation -> region. ``broadcast()`` pins the
    plan to shuffle-free hash joins on the fact side regardless of
    autoBroadcastJoinThreshold.
    """
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Month-over-month snapshot diff — the reference's core consume
    semantic (what changed between two schedule extracts) as one
    full-outer join: every key classified added / removed / changed /
    unchanged by null-safe comparison of the tracked columns.

    One shuffle on the natural key (both sides co-partition); at
    100 TB both snapshots are month partitions of the same sink, so
    the join is between two pruned scans, not two full tables.
    """
    # Side presence is tracked with explicit lit(1) marker columns, NOT
    # null-ness of a key column: a legitimate NULL natural key would
    # otherwise misclassify its row (and a full-outer equi-join never
    # matches NULL keys, so such rows surface once per side).
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in compare_cols],
        F.lit(1).alias("_o_present"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in compare_cols],
        F.lit(1).alias("_n_present"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(~in_old, "added")
        .when(~in_new, "removed")
        .when(same, "unchanged")
        .otherwise("changed")
    )
    return j.select(
        *[
            F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Row-level MERGE (upsert): source rows update matching target
    rows and insert unmatched ones; unmatched target rows survive —
    the WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT core of
    Delta/Iceberg MERGE INTO, computed as a full-outer join with
    row-level source-wins: when the source has the key, the WHOLE
    source row replaces the target row (a NULL in a matched source
    column overwrites, exactly like MERGE's UPDATE SET *). The two
    sides must have the same column set; order may differ — source
    columns are selected in target order.

    Same scale shape as snapshot_diff: one co-partitioned shuffle on
    the natural key. With a month-partitioned sink, pair this with
    dynamic partition overwrite (io.write_partitioned) to rewrite
    exactly the touched partitions.
    """
    cols = target.columns
    if sorted(source.columns) != sorted(cols):
        raise ValueError(f"schema mismatch: {source.columns} vs {cols}")
    t_ = target.select(*[F.col(c).alias(f"_t_{c}") for c in cols])
    # lit(1) presence marker, not key null-ness: a NULL key or NULL
    # source column must not flip a row back to target-wins.
    s_ = source.select(
        *[F.col(c).alias(f"_s_{c}") for c in cols],
        F.lit(1).alias("_s_present"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"_t_{k}") == F.col(f"_s_{k}")
        cond = c if cond is None else (cond & c)
    j = t_.join(s_, cond, "full_outer")
    src_wins = F.col("_s_present").isNotNull()
    return j.select(
        *[
            F.when(src_wins, F.col(f"_s_{c}"))
            .otherwise(F.col(f"_t_{c}"))
            .alias(c)
            for c in cols
        ]
    )
