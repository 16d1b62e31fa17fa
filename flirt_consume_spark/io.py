"""Batch sources and sinks (SURVEY.md §2.A, S1–S4).

All loaders return plain DataFrames; downstream operators never know
or care where the data came from, which is what lets the same
transforms run in batch and streaming (see streaming/sources.py for
the S5/S6 streaming counterparts).

Scale notes (100-TB design point):
- parquet scans go through Spark's vectorized reader; predicate
  pushdown + column pruning reach the row groups for free as long as
  callers express filters/projections on the DataFrame (verified by
  plan assertions in tests/test_plans.py);
- sinks partition by a date-derived key so static + dynamic partition
  pruning fire on the read path — the Spark-native equivalent of the
  reference's per-month MongoDB collection swap + secondary indexes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark import schemas
from flirt_consume_spark.session import apply_runtime_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: parquet scan of one driver table (TESTDATA.md) through its
    declared ``schemas.TABLES`` schema. No footer inference, so the
    open launches no Spark job, and a file whose column types drift
    from the declaration fails on the first action (SURVEY.md §1.3).
    """
    apply_runtime_confs(spark)
    return spark.read.schema(schemas.TABLES[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = schemas.TABLE_NAMES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv(spark: SparkSession, path: str, schema, header: bool = True) -> DataFrame:
    """S2: CSV scan with an explicit schema — the reference's native
    input format (monthly flight-schedule extracts). No schema
    inference: drift fails loudly (SURVEY.md §1.3).
    """
    apply_runtime_confs(spark)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S3: JSON-lines scan (airport/aux reference data)."""
    apply_runtime_confs(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """S4: batch sink with idempotent partition overwrite.

    The reference swaps in a whole MongoDB collection per consumed
    month; the Spark-native equivalent is dynamic partition overwrite:
    re-consuming a month replaces exactly that month's partition and
    nothing else, which makes the job idempotent and safely re-runnable.
    """
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_cols
        )
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_bytes) files of ~target size. Returns
    the file count written.

    The 100-TB motivation: a partitioned sink fed by many tasks leaves
    thousands of KB-scale files per partition; every downstream scan
    then pays per-file open/footer costs and the driver pays listing.
    Compaction uses ``coalesce`` (narrow — merges input splits into
    fewer tasks, no shuffle) rather than ``repartition`` (full
    shuffle); row order within merged files is input order, which
    downstream consumers must not rely on either way.
    """
    import math

    total = 0
    for dirpath, _dirs, files in os.walk(src_path):
        for fn in files:
            if not fn.startswith("_") and not fn.startswith("."):
                total += os.path.getsize(os.path.join(dirpath, fn))
    n = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(src_path).coalesce(n).write.mode("overwrite").parquet(
        dst_path
    )
    return n


def with_month_key(df: DataFrame, ts_col: str, key_col: str = "month_key") -> DataFrame:
    """Derive the partition key used by the monthly sink ('YYYY-MM')."""
    return df.withColumn(key_col, F.date_format(F.col(ts_col), "yyyy-MM"))


def source_fingerprint(sf_dir: str, name: str) -> str:
    """Content fingerprint of one source table (file or directory):
    md5 over sorted (relpath, size, mtime_ns) of every data file.

    Round-trip caches under /tmp must be keyed on THIS, not on the
    sf-dir basename alone: if testdata is regenerated in place (same
    path, new contents), a basename-keyed cache would silently serve
    stale data. A size+mtime fingerprint changes with the rewrite, so
    the cache misses and the round-trip re-runs.
    """
    import hashlib

    root = os.path.join(sf_dir, f"{name}.parquet")
    parts = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    else:
        st = os.stat(root)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(sorted(parts)).encode()).hexdigest()[:10]


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a driver table's parquet file/directory — the
    zero-cost static size probe for the scale gates (no analyzer/
    optimizer pass, unlike plan-statistics probes). Compressed bytes
    UNDERSTATE in-memory size but cover every column, which
    overstates a single-key projection — the gates' 8× threshold
    headroom absorbs both directions; when exactness matters the
    caller can still probe plan statistics."""
    root = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(root):
        return os.path.getsize(root)
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def cache_path(prefix: str, sf_dir: str, table: str) -> str:
    """/tmp round-trip cache location for (prefix, sf_dir, table),
    keyed on the source table's content fingerprint (see
    source_fingerprint). Safe to reuse iff the fingerprint matches.
    """
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        "/tmp", f"flirt_{prefix}_{base}_{source_fingerprint(sf_dir, table)}"
    )
