"""Registry plumbing + oracle hash-matching discipline helpers.

The driver compares each Spark query against its DuckDB oracle by
row-count + schema + order-insensitive value hash (SURVEY.md §5.1),
so results must match **bit for bit**. The helpers here encode the
discipline that makes that possible (SURVEY.md §4 hazards):

- ``dsum``/``davg``: floating-point SUM is order-dependent, and Spark
  partial aggregation visits rows in a different order than DuckDB.
  We therefore aggregate exactly: cast each double to DECIMAL (a
  deterministic per-value rounding both engines implement the same
  way), sum in exact decimal arithmetic, and cast the final result
  back to double. Bit-exact at any parallelism — no tolerance games.
- timestamps are stringified at second/µs precision on both sides
  (the files store µs TIMESTAMP_NTZ, but tz-awareness differs between
  the two engines' client bindings, so raw timestamp outputs are
  avoided);
- derived integers are cast to BIGINT on both sides (DuckDB's year()
  yields BIGINT, Spark's year() yields INT; DuckDB SUM(int) yields
  HUGEINT — every oracle casts back to BIGINT);
- every ranking/top-k orders by a full unique key so ties are
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.io import load_table


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str | None = None) -> Callable:
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``key``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[key] = QuerySpec(key, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand loader used by every query body."""
    return load_table(spark, sf_dir, name)


def md5_parent_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, parent)`` over the customers: node = c_custkey + 1 and
    parent(n) = md5(n)[:8] as hex % (1 + n div 8). The parent is
    strictly smaller than the node, so the DAG ends at the virtual
    root 0 and its depth is at most 1 + log₈ n. `graph_bfs_dist` and
    `sql_recursive` walk it, and their oracles replay the same md5
    arithmetic in DuckDB."""
    node = F.col("c_custkey") + 1
    return t(spark, sf_dir, "customer").select(
        node.cast("long").alias("node"),
        (
            F.conv(F.substring(F.md5(node.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % (1 + (node.cast("long") / 8).cast("long"))
        ).alias("parent"),
    )


# --- exact-aggregation helpers (Spark side) ------------------------------


def dec(col: Column | str, scale: int = 6, precision: int = 30) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


#: Verbatim raise-text template for :func:`finite_or_fail`. Shared
#: with tools/edge_sweep.py's EXPECTED_GUARDS classifier (which
#: matches crash text by substring), so the guard wording and the
#: sweep's expected-guard entries cannot drift apart silently.
FINITE_GUARD_TEXT = (
    "{op}: non-finite measure value (NaN/Inf) — "
    "exact-decimal quantization rejects it; filter or "
    "repair upstream"
)


def finite_or_fail(col: Column | str, op: str) -> Column:
    """In-plan non-finite guard for exact-decimal quantization inputs.

    Spark's floor(double)->long SATURATES ±Inf/NaN to LongMax/LongMin/0
    silently; most quantized paths then overflow a long SUM and fail
    loudly (ANSI), but order-statistic paths (median / min_by /
    arg_min) LEAK the sentinel into results — one Inf sensor reading
    silently contaminates a 100-TB rollup with 9.2e18. This guard
    makes the exact-decimal contract uniform: a non-finite measure
    fails the action with a clear message on the Spark side exactly
    where DuckDB's CAST(floor(...) AS BIGINT) refuses the same value.
    NULL passes through (the SQL aggregate skip convention)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))), c
    ).otherwise(
        F.raise_error(F.lit(FINITE_GUARD_TEXT.format(op=op)))
    )


def dsum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent exact SUM of a double column -> double.

    Implementation: floor(x·10^scale) summed as LONG. Both engines
    compute the identical IEEE product and floor, and integer addition
    is associative — exact at any parallelism, and ~6× faster than
    DECIMAL(30) sums (which fall off Spark's compact-long decimal fast
    path into per-row BigDecimal; measured 21s vs 3.5s on 6M rows).
    Capacity: |Σ| < 9.2e18/10^scale — holds by orders of magnitude at
    the driver's scale factors; at extreme scale trade back to
    DECIMAL(30,s) (exact, slower) per call site.
    """
    c = F.col(col) if isinstance(col, str) else col
    unit = float(10**scale)
    return (
        F.sum(F.floor(c * F.lit(unit)).cast("long")) / F.lit(unit)
    ).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Exact-sum average: integer-unit SUM / COUNT, evaluated in double."""
    c = F.col(col) if isinstance(col, str) else col
    unit = float(10**scale)
    return (
        F.sum(F.floor(c * F.lit(unit)).cast("long")) / F.lit(unit) / F.count(c)
    ).alias(alias)


def favg(col: Column | str, alias: str) -> Column:
    """Exact average for unit-scale floats via integer nano-units.

    ``dec``-based sums are wrong for high-scale decimals: Spark casts
    double→DECIMAL through Java's shortest string repr while DuckDB
    expands the exact binary fraction, and the two disagree near
    1e-12 boundaries. floor(x·1e9) is computed on the identical IEEE
    double in both engines, so the integer sum matches bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(F.floor(c * 1e9).cast("long")) / F.lit(1e9) / F.count(c)
    ).alias(alias)


def sql_favg(expr: str, alias: str) -> str:
    # COUNT(expr), not COUNT(*): favg divides by F.count(col) (non-null
    # count) — both sides must use the same denominator if NULLs appear.
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1e9) AS BIGINT)) AS DOUBLE)"
        f" / 1e9 / COUNT(({expr})) AS {alias}"
    )


# DuckDB-side equivalents (string templates for oracle SQL)
def sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    unit = f"1e{scale}"
    return (
        f"CAST(CAST(SUM(CAST(floor(({expr}) * {unit}) AS BIGINT)) AS DOUBLE)"
        f" / {unit} AS DOUBLE) AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = 6) -> str:
    unit = f"1e{scale}"
    return (
        f"CAST(SUM(CAST(floor(({expr}) * {unit}) AS BIGINT)) AS DOUBLE)"
        f" / {unit} / COUNT({expr}) AS {alias}"
    )


# --- staged-intermediate policy --------------------------------------------
#
# There is deliberately NO session-scoped memoisation of staged
# intermediates anywhere in the query paths: every frame is built
# inside the invocation that uses it (the r12 `session_state` cache was
# cross-invocation result caching and is gone). Inside one invocation
# a pin (`persist()` / `localCheckpoint`) stays only when one of two
# things holds:
# - correctness needs it: a layout pin whose spark_partition_id /
#   monotonically_increasing_id values are joined back by more than
#   one plan leg (scale._pin_ranged), or
#   an eager checkpoint that is the action filling an Observation a
#   driver loop reads to stop;
# - a cleared-cache A/B at sf0.1 showed that removing it slows its
#   key by >= 10% at the median in >= 9 of 10 pairs.
# Pins that met neither were removed; a frame read by several legs is
# otherwise left to exchange reuse. persist() is honest because the
# bench clears the CacheManager before every timed invocation, so no
# sample can be served from a previous invocation's blocks.
# tests/test_state.py pins this no-cross-invocation-reuse policy.
