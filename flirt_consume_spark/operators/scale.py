"""Scale infrastructure: co-located (bucketed) joins and skew salting.

These target the two shuffle pathologies that dominate at 100 TB:

- **Repeated shuffles on the same key** — persist fact tables bucketed
  by the join key (`write_bucketed`); joins between tables bucketed on
  the same key with the same bucket count plan as shuffle-free
  sort-merge joins (verified in tests/test_scale.py by asserting no
  Exchange above the join).
- **Skewed keys** — AQE's skew-join splitting handles most cases at
  runtime; `salted_join` is the explicit fallback for super-hot keys:
  the big side gets a random-but-bounded salt, the small side is
  exploded across all salt values, and the join key becomes
  (key, salt) — turning one straggler partition into `salt_buckets`
  even ones.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-heavy narrow stages.

    The guide's unsplittable-input rule (§2.5: "one huge unsplittable
    file … repartition immediately after the read"): a single-row-group
    parquet file scans as ONE task, so any expensive per-row expression
    chain above it (shingling, gram statistics, XML parsing, hashing)
    runs serially no matter how many cores exist. When the upstream
    partition count is below the session's default parallelism,
    round-robin repartition up to it; when the scan already meets the
    floor — every real table at cluster scale does, since files/row
    groups vastly outnumber cores — this is a NO-OP returning ``df``
    unchanged, so no shuffle is ever added at the 100-TB design point.
    The repartition moves only the columns already selected (callers
    project first), and its cost at the small end is bounded by the
    tiny input that made it necessary. The floor is
    ``sparkContext.defaultParallelism``, so it tracks the actual core
    count rather than a constant tuned for one machine.

    The under-parallel probe is the optimizer's STATIC size estimate
    (``optimizedPlan().stats().sizeInBytes``) against
    floor × maxPartitionBytes — an input below that bound cannot scan
    into ``floor`` tasks. Deliberately NOT ``df.rdd.getNumPartitions()``:
    under AQE the RDD conversion finalizes the adaptive plan by
    EXECUTING upstream query stages, which re-ran every consumer's
    aggregation subtree once per call (measured +0.4-0.7 s/key at
    sf0.1 before this was caught). A statistics probe costs one extra
    analyzer/optimizer pass and never executes anything.
    """
    spark = df.sparkSession
    floor = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        max_pb = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            )
        )
    except Exception:  # estimate unavailable: leave the plan alone
        return df
    if size < floor * max_pb:
        return df.repartition(floor)
    return df


def _auto_broadcast_bytes(spark: SparkSession) -> int:
    """autoBroadcastJoinThreshold in bytes; <= 0 means disabled.
    The conf accepts plain ints (incl. -1 = disabled) and byte-suffix
    strings ("10m"); JavaUtils rejects negatives, so parse int first."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(raw)
        )
    except Exception:  # noqa: BLE001
        return 10 * 1024 * 1024


def semi_prune_if_large(
    big: DataFrame,
    keys: DataFrame,
    on,
    threshold: int | None = None,
    probe_bytes: int | None = None,
) -> DataFrame:
    """Static-size-gated broadcast semi-join prefilter (guide §3.2;
    r12 VERDICT task 6).

    A selective dimension restriction (e.g. region = 'ASIA' reaching
    customer/supplier transitively through the nation key) can prune
    a data-sized join side BEFORE it is shuffled — a guaranteed win at
    the 100-TB design point, where the exchange is the cost. At TEST
    scale the same prune was measured to LOSE (r12: 1.45 s vs 1.32 —
    the extra semi-join operators cost more than the cut saves when
    AQE already broadcasts everything), so it is gated on the same
    static size probe as ``fan_out``: engage only when ``big``'s
    optimizer estimate (or ``probe_bytes``, e.g. the on-disk table
    size) exceeds ``threshold`` (default 8 × autoBroadcastJoinThreshold:
    the raw-bytes bound under which a hash relation comfortably fits
    executor memory, guide §3.1). A session with broadcasts disabled
    never prunes, since the prune is a forced broadcast.
    Below the gate the plan is byte-identical to the ungated one.

    ``keys`` must be a BOUNDED frame (it is broadcast), and the prune
    must be implied by a downstream equi-join on the same key — rows
    it drops could never reach the result, so output is unchanged at
    every scale (the forced-gate unit test pins this).
    """
    spark = big.sparkSession
    if threshold is None:
        auto = _auto_broadcast_bytes(spark)
        if auto <= 0:  # broadcast disabled for the session: never hint
            return big
        threshold = 8 * auto
    size = probe_bytes
    if size is None:
        try:
            size = int(
                str(
                    big._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:  # noqa: BLE001 — estimate unavailable
            return big
    if size > threshold:
        return big.join(F.broadcast(keys), on, "left_semi")
    return big


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 16,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Persist hash-bucketed (and optionally sorted) — the Spark-native
    analogue of the reference's Mongo secondary indexes: equality
    lookups and co-located joins on the bucket key skip the shuffle."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # The default in-memory catalog forgets tables between sessions but
    # the warehouse directory persists — an orphaned location makes
    # saveAsTable fail with LOCATION_ALREADY_EXISTS. Clean it.
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        import shutil
        from urllib.parse import urlparse

        loc = os.path.join(urlparse(wh).path, table_name.lower())
        shutil.rmtree(loc, ignore_errors=True)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def colo_table(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    columns: tuple[str, ...],
    bucket_col: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Shared cached bucketed projection of a source table.

    ``join_colocated`` (J11) and ``agg_bucketed`` (A23) both consume a
    bucketed LINEITEM; this helper is the single owner of the cache
    name, fingerprint, column selection, and bucket count, so two keys
    can never create the same table with divergent schemas, and the
    fingerprint is of the table actually being bucketed — regenerating
    lineitem invalidates the cache even when other tables are
    unchanged. The cache name carries the column list AND the bucket
    spec (column, count) so a future caller needing a different
    projection or layout gets its own table instead of silently
    consuming one whose clustering doesn't satisfy its plan (which
    would either fail the no-Exchange assertions or quietly
    reintroduce a full shuffle)."""
    import hashlib

    from flirt_consume_spark.io import load_table, source_fingerprint

    fp = source_fingerprint(sf_dir, source)[:8]
    sig = ",".join(columns) + f"|{bucket_col}|{n_buckets}"
    colsig = hashlib.md5(sig.encode()).hexdigest()[:6]
    name = f"colo_{source}_{colsig}_{fp}"
    if not spark.catalog.tableExists(name):
        write_bucketed(
            load_table(spark, sf_dir, source).select(*columns),
            name,
            (bucket_col,),
            n_buckets,
        )
    return spark.table(name)


def zorder_value(
    x: Column,
    y: Column,
    x_min: Column,
    x_max: Column,
    y_min: Column,
    y_max: Column,
    bits: int = 16,
) -> Column:
    """Z-order (Morton) curve value for two columns: quantize each to
    ``bits`` levels over its [min, max] range, then interleave the
    bits. Sorting a sink by this value clusters rows that are close in
    BOTH dimensions into the same parquet files/row groups, so min/max
    footer statistics prune multi-dimensional box predicates — the
    data-skipping layout trick a 100-TB table needs when queries
    filter on two columns and partitioning can only serve one.

    Deterministic and cross-engine exact: quantization is one IEEE
    subtract/divide/multiply/floor chain (bit-identical in Spark and
    DuckDB), interleaving is pure integer arithmetic. Zero-range
    columns quantize to 0. Returns a 2*bits-bit BIGINT.
    """
    levels = float((1 << bits) - 1)

    def quant(c, lo, hi):
        rng = hi - lo
        return (
            F.when(rng == 0, F.lit(0).cast("long"))
            .otherwise(F.floor((c - lo) / rng * F.lit(levels)).cast("long"))
        )

    xq, yq = quant(x, x_min, x_max), quant(y, y_min, y_max)
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftright(xq, b).bitwiseAND(1) * F.lit(1 << (2 * b))
            + F.shiftright(yq, b).bitwiseAND(1) * F.lit(1 << (2 * b + 1))
        )
    return z


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Re-cluster ``df`` along the Z-curve of (x_col, y_col): range
    partition + sort by the interleaved value, ready to write. The
    min/max bounds come from one tiny agg broadcast back — no second
    pass over the data per row."""
    bounds = df.agg(
        F.min(x_col).alias("_xmin"),
        F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"),
        F.max(y_col).alias("_ymax"),
    )
    with_z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        zorder_value(
            F.col(x_col).cast("double"),
            F.col(y_col).cast("double"),
            F.col("_xmin").cast("double"),
            F.col("_xmax").cast("double"),
            F.col("_ymin").cast("double"),
            F.col("_ymax").cast("double"),
            bits=bits,
        ),
    )
    return (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_xmin", "_xmax", "_ymin", "_ymax")
    )


def _bloom_positions(col: str, n_bits: int, hashes: int) -> list[Column]:
    """``hashes`` independent bit positions for a key — xxhash64 with
    the hash index folded in as an extra hashed column (each index is
    a distinct hash function). r12: replaces md5-of-string + hex
    substring + base conversion — three string ops per position per
    row on the FACT side — with one native 64-bit hash (guide §1.2
    step 2: per-task work). The filter's results are unchanged by
    construction: positions only decide false-positive placement, and
    the exact join downstream removes those either way."""
    return [
        F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(n_bits)).cast("long")
        for i in range(hashes)
    ]


def bloom_prefilter(
    big: DataFrame,
    small_keys: DataFrame,
    big_key: str,
    small_key: str,
    n_words: int = 1024,
    hashes: int = 3,
) -> DataFrame:
    """Filter ``big`` down to rows whose key MIGHT be in
    ``small_keys`` via a broadcast bloom bitmap — no shuffle of the
    big side, bounded false positives, zero false negatives.

    The small side's key set is folded into a dense ``n_words``-long
    array of 64-bit words (xxhash64 positions, bit_or aggregation —
    a few KB regardless of key count) carried on ONE broadcast row;
    the big side tests all ``hashes`` bits in a single narrow pass
    (O(1) ``element_at`` per hash — no per-hash join chain, and the
    small-side aggregation runs exactly once).

    Both key columns must have the same Spark data type: xxhash64
    hashes the typed binary encoding, so equal values of different
    types (1 as BIGINT vs 1.0 as DOUBLE) hash to different positions
    — a false-negative bug, not a correctness-preserving
    approximation. Hence the hard type check.
    """
    big_t = big.schema[big_key].dataType
    small_t = small_keys.schema[small_key].dataType
    if big_t != small_t:
        raise ValueError(
            f"bloom_prefilter: key dtypes must match exactly "
            f"({big_key}: {big_t} vs {small_key}: {small_t}); equal "
            "values of different types can have different string forms, "
            "which would silently drop true matches"
        )
    n_bits = n_words * 64
    # Sparse (word_idx, bits) bitmap: union the hash positions, OR the
    # bit masks per word. Tiny result (<= n_words rows).
    stacked = small_keys.select(
        F.explode(F.array(*_bloom_positions(small_key, n_bits, hashes))).alias(
            "pos"
        )
    )
    sparse = (
        stacked.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # Densify into one array-of-longs row (index i holds word i): the
    # linear map scan happens n_words times on ONE row here, buying
    # O(1) array indexing per fact row below.
    dense = (
        sparse.agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "bits"))
            ).alias("_m")
        ).select(
            F.expr(
                f"transform(sequence(0, {n_words - 1}), "
                "i -> coalesce(element_at(_m, cast(i AS bigint)), 0L))"
            ).alias("_bloom")
        )
    )
    probe = big.crossJoin(F.broadcast(dense))
    pos_cols = {
        f"_p{i}": p
        for i, p in enumerate(_bloom_positions(big_key, n_bits, hashes))
    }
    cond = " AND ".join(
        f"((shiftright(get(_bloom, cast(_p{i} / 64 AS int)), "
        f"cast(_p{i} % 64 AS int)) & 1) = 1)"
        for i in range(hashes)
    )
    return (
        probe.withColumns(pos_cols)
        .filter(F.expr(cond))
        .drop("_bloom", *pos_cols)
    )


def bloom_semi_join(
    big: DataFrame,
    small_keys: DataFrame,
    big_key: str,
    small_key: str,
    n_words: int = 1024,
    hashes: int = 3,
) -> DataFrame:
    """Semi join with an explicit broadcast-bloom prefilter.

    Only the ~|match|+ε rows surviving ``bloom_prefilter`` reach the
    exact semi join. At 100 TB this is the difference between
    shuffling the whole fact table into a semi join and shuffling only
    the rows that can possibly match — the hand-rolled, deterministic
    version of Spark's runtime bloom-filter injection, available even
    where the optimizer declines to inject one. False positives are
    eliminated by the final exact semi join, so results are identical
    to ``big.join(small, semi)`` by construction.
    """
    probe = bloom_prefilter(big, small_keys, big_key, small_key, n_words, hashes)
    # Qualify the small side's key column: an unqualified F.col would be
    # ambiguous (or silently resolve to the wrong side) if `big` carries
    # a column with the same name.
    small = small_keys.select(small_key).distinct()
    return probe.join(small, probe[big_key] == small[small_key], "left_semi")


def _pin_ranged(ranged: DataFrame) -> DataFrame:
    """Materialize the range-partitioned subtree ONCE before
    global_rank / global_cumsum fan multiple plan legs out of it.

    Both operators bake the physical layout into data (``_pid`` from
    spark_partition_id, ``_loc`` from monotonically_increasing_id)
    and then join per-partition offsets back on ``_pid`` — correct
    only if every leg sees the IDENTICAL partition layout. Without
    materialization that does NOT hold: column pruning pushes
    different projections below each leg's copy of the exchange, so
    the subtrees are canonically different (no ReusedExchange — plan-
    verified), each leg re-samples its own range boundaries, and AQE
    coalesces each leg independently by its own byte size. At tested
    scales every leg happens to coalesce identically; at intermediate
    sizes the layouts diverge and rows are silently dropped or
    mis-summed.

    A lazy local checkpoint fixes the layout for every consumer: the
    RDD's blocks are computed once (block-level locking under
    concurrent stages), all legs read the same frozen partitions, the
    ContextCleaner reclaims the blocks when the RDD is unreferenced,
    and a lost block fails the job loudly rather than recomputing a
    possibly-different layout.

    ``pin_sample`` (the range operators' opt-in) is a second, separate
    pin BELOW the range shuffle: ``repartitionByRange`` runs a
    sampling job over its child, a full extra execution of the
    upstream subtree. A COMPUTE-HEAVY child (pack_sequences' regex
    tokenizer, quota_budget_select's quality scorer) is cheaper to
    materialize once; a plain scan projection is cheaper to re-read,
    so the default is off."""
    return ranged.localCheckpoint(eager=False)


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rnk",
    count_col: str | None = None,
    pin_sample: bool = False,
) -> DataFrame:
    """Distributed global row_number over a total order — the scale
    path for O1/W6 that a partition-less Window can't provide (that
    plans as a single reducer holding the whole table).

    ``count_col`` (r12, guide §2.4 "remove shuffles outright"): when
    set, the TOTAL row count is also emitted on every row under that
    name — derived from the per-partition count table the offset
    computation already aggregates, so it rides the same tiny
    broadcast join for free. Consumers that need (rank, n) pairs
    (ntile formulas, percent_rank/cume_dist) previously paid a second
    full pass over the ranked frame for the count.

    Mechanics: range-repartition on the sort key (each partition holds
    a contiguous key range, in partition-index order), sort within
    partitions (parallel), derive each row's 0-based offset inside its
    partition from ``monotonically_increasing_id`` (its low 33 bits
    are exactly the within-partition row counter, assigned in sorted
    order — narrow, no window), then add per-partition start offsets
    via a broadcast join against the tiny (pid → preceding-count)
    table. That prefix sum is a broadcast triangular self-join over
    O(num_partitions) rows — no single-partition window or other
    serialized stage anywhere in the plan.

    Rank values are exact and deterministic regardless of where the
    sampled range boundaries land, PROVIDED ``order_cols`` is a total
    order (full unique key — ties would make any global rank
    nondeterministic anyway).
    """
    # pin_sample: see _pin_ranged.
    if pin_sample:
        df = df.localCheckpoint(eager=False)
    ranged = _pin_ranged(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_loc", F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        )
    )
    cnts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    prev = cnts.select(
        F.col("_pid").alias("_ppid"), F.col("_cnt").alias("_pcnt")
    )
    offs = (
        cnts.join(F.broadcast(prev), F.col("_ppid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_pcnt"), F.lit(0)).alias("_off"))
    )
    if count_col is not None:
        # Total = Σ per-partition counts: one extra aggregate over the
        # O(num_partitions) cnts frame, cross-joined onto the offsets
        # (both tiny), so it reaches every row via the SAME broadcast
        # join — no second data pass.
        tot = cnts.agg(F.sum("_cnt").cast("long").alias(count_col))
        offs = offs.crossJoin(tot)
    return (
        ranged.join(F.broadcast(offs), "_pid")
        # LONG, not INT: a global rank is data-sized — int32 overflows
        # past ~2.1e9 rows, which a 100-TB table exceeds by orders of
        # magnitude. (Matches row_number()'s BIGINT on the SQL side.)
        .withColumn(rank_col, (F.col("_off") + F.col("_loc") + 1).cast("long"))
        .drop("_pid", "_loc", "_off")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Equi-join with explicit skew salting.

    The salt on the big side is derived from a hash of the whole row
    (deterministic, uniform), NOT rand(), so results are reproducible
    and retries of a failed task produce identical output.

    Only inner/left are supported: the small side is exploded across
    all salt values, so right/full outer would emit each unmatched
    small-side row salt_buckets times.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "exploded small side would duplicate unmatched rows under "
            "right/full outer joins"
        )
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt_buckets))
    )
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    small_s = small.withColumn("_salt", F.explode(salts))
    joined = big_s.join(small_s, [key, "_salt"], how)
    return joined.drop("_salt")


def global_cumsum(
    df: DataFrame,
    value_col: str | list[str],
    order_cols: list,
    cum_col: str | list[str] = "cum",
    pin_sample: bool = False,
) -> DataFrame:
    """Distributed running sum over a global total order — the prefix-
    sum sibling of ``global_rank`` (same mechanics, summing a value
    instead of counting rows). A partition-less ``SUM() OVER (ORDER
    BY ...)`` plans as a single reducer holding the whole table; this
    stays parallel end to end.

    Mechanics: range-repartition on the sort key, sort within
    partitions, take the WITHIN-partition running sum with a window
    partitioned by ``spark_partition_id()`` (parallel — each task owns
    one contiguous key range), then add each partition's preceding
    total via a broadcast triangular join over the tiny (pid → sum)
    table. ``value_col`` must be integral (LONG): integer addition is
    associative, so the result is exact and identical at any
    parallelism — float running sums would be partitioning-dependent.

    ``value_col``/``cum_col`` accept lists to compute several running
    sums over the SAME total order in one pass — one range shuffle and
    one broadcast offsets table amortized across all of them (the
    multi-counter ECDF shape ``audit_ks`` needs), instead of one
    shuffle per counter.

    ``order_cols`` must be a total order (unique key); ties would make
    any global prefix sum nondeterministic.
    """
    from pyspark.sql.window import Window

    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ccols = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if len(vcols) != len(ccols):
        raise ValueError("value_col and cum_col lists must align 1:1")
    for vc in vcols:
        vt = df.schema[vc].dataType.simpleString()
        if vt not in ("int", "bigint", "smallint", "tinyint"):
            raise ValueError(
                f"global_cumsum needs an integral value column, got "
                f"{vc}: {vt} — float prefix sums are order-dependent"
            )
    # pin_sample: see _pin_ranged.
    if pin_sample:
        df = df.localCheckpoint(eager=False)
    ranged = _pin_ranged(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged
    for vc in vcols:
        local = local.withColumn(f"_lcum_{vc}", F.sum(vc).over(local_w))
    totals = ranged.groupBy("_pid").agg(
        *[F.sum(vc).alias(f"_ptot_{vc}") for vc in vcols]
    )
    prev = totals.select(
        F.col("_pid").alias("_ppid"),
        *[F.col(f"_ptot_{vc}").alias(f"_pprev_{vc}") for vc in vcols],
    )
    offs = (
        totals.join(F.broadcast(prev), F.col("_ppid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            *[
                F.coalesce(F.sum(f"_pprev_{vc}"), F.lit(0)).alias(f"_off_{vc}")
                for vc in vcols
            ]
        )
    )
    out = local.join(F.broadcast(offs), "_pid")
    drop = ["_pid"]
    for vc, cc in zip(vcols, ccols):
        out = out.withColumn(cc, F.col(f"_off_{vc}") + F.col(f"_lcum_{vc}"))
        drop += [f"_lcum_{vc}", f"_off_{vc}"]
    return out.drop(*drop)


def _nullsafe_equi_join(
    left: DataFrame, right: DataFrame, names: list, how: str = "inner"
) -> DataFrame:
    """USING-style equi-join on column names with NULL-SAFE equality.

    groupBy and window PARTITION BY treat NULL as a value — a NULL
    group/tie-class key forms its own group. A plain name-list join
    back (EqualTo) silently DROPS every NULL-keyed row instead, so a
    rank/offset/bounds join-back would make NULL-keyed data vanish
    from the operator's output at scale.

    Mechanics: both sides join on ONE derived struct key — struct
    equality is per-field null-safe, and the struct itself is never
    NULL, so a plain equi-join key carries the null-safe semantics.

    Measured plan cost (win_rank, sf0.001, formatted-plan node
    counts): the pre-rework plain-EqualTo plan was 21 exchanges /
    0 SMJ / 12 BHJ with IsNotNull pushed into the scan — cheaper
    precisely BECAUSE it dropped NULL-keyed rows at the source. The
    struct-key plan is 24 / 2 / 10 with no pushed IsNotNull: an
    ACCEPTED regression, the price of NULL correctness (the lost
    scan pushdown is inherent — a null-safe join cannot prune NULL
    keys). The struct key still beats an ``eqNullSafe`` condition
    (25 / 2 / 10 measured on the same shape): Spark rewrites
    eqNullSafe into (coalesce(k,''), isnull(k)) join keys, whose
    wrappers break the optimizer's equality-constraint inference.
    Broadcast hints on ``right`` survive the struct projection.
    Right-side key columns are dropped after the join, like USING.

    Only inner/left are supported: right-side key columns are
    dropped before the join, so for how='right'/'full' right-only
    rows would surface with NULL key columns instead of their actual
    keys (real USING coalesces left/right keys).
    """
    # Spark accepts several spellings per join type; normalize before
    # the membership check so 'left_outer'/'leftouter' aren't rejected.
    how = {"left_outer": "left", "leftouter": "left"}.get(how, how)
    if how not in ("inner", "left"):
        raise ValueError(
            f"_nullsafe_equi_join: how={how!r} unsupported — right-side "
            "key columns are dropped pre-join, so right/full would lose "
            "right-only keys; coalesce struct fields first if needed."
        )
    lkey = F.struct(*[left[n] for n in names])
    rkey = F.struct(*[right[n] for n in names])
    out = left.withColumn("_nsk", lkey).join(
        right.withColumn("_nsk", rkey).drop(*names), "_nsk", how
    )
    return out.drop("_nsk")


#: Default ceiling for grouped_rank/grouped_cumsum group cardinality —
#: the per-group offset table rides a broadcast, so it must stay small.
#: 100k rows of (keys, long) is a few MB; far beyond "low cardinality"
#: but far below anything that threatens the driver.
MAX_BROADCAST_GROUPS = 100_000


def _guard_group_count(offsets: DataFrame, max_groups: int, op: str) -> DataFrame:
    """Enforce the bounded-cardinality contract before broadcasting.

    LAZY and in-plan (an eager guard collect would re-execute the
    whole upstream rank subtree as an extra job per call — measured
    2.5x on win_rank): a single-partition count window over the
    offsets frame — tiny when the contract holds — feeds a
    ``raise_error`` filter, so an over-ceiling group count fails the
    action with a clear message instead of silently collecting an
    unbounded table into a driver broadcast. A violating frame spills
    one window partition to disk and raises — bounded damage, no OOM.
    """
    from pyspark.sql.window import Window

    n = F.count(F.lit(1)).over(Window.partitionBy(F.lit(1)))
    ok = F.when(n <= F.lit(max_groups), F.lit(True)).otherwise(
        F.raise_error(
            F.lit(
                f"{op}: group_cols exceed the bounded-cardinality "
                f"contract (> {max_groups} distinct groups). The "
                f"per-group offset table is broadcast, so it must stay "
                f"small; for high-cardinality groups use a plain "
                f"per-group Window.partitionBy(...) — it is already "
                f"parallel there."
            )
        )
    )
    return offsets.withColumn("_gok", ok).filter("_gok").drop("_gok")


def grouped_rank(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    rank_col: str = "grnk",
    max_groups: int = MAX_BROADCAST_GROUPS,
    count_col: str | None = None,
    pin_sample: bool = False,
) -> DataFrame:
    """Per-group row_number for LOW-CARDINALITY groups over a
    DATA-SIZED frame — the scale path that
    ``Window.partitionBy(group).orderBy(...)`` cannot provide there:
    a per-group window plans one reducer PER GROUP, so 3 statuses or
    10 languages serialize a 100-TB table into 3-10 tasks however
    many executors exist (the win_ntile/sort_global lesson, per
    group).

    Mechanics: ONE ``global_rank`` over the total order
    (group_cols + order_cols) — range-partitioned, parallel — then
    rank-in-group = global rank − the group's minimum global rank
    + 1, with the per-group minima (|groups| rows, bounded by
    assumption) riding a broadcast join back. This is the agg_gini
    offset construction, factored out.

    Requires group_cols to have BOUNDED cardinality (the offset
    table is collected into a broadcast); ``max_groups`` enforces it —
    the call fails fast past the ceiling instead of OOMing the
    driver. For high-cardinality groups a plain per-group window is
    already parallel — use that. So is a top-k with a literal k: a
    row_number window filtered to ≤ k gets a partial
    ``WindowGroupLimit`` before its exchange (win_rank).
    ``group_cols + order_cols`` must be a total order (unique key).

    r12 internals rework (guide §2.4): one range shuffle on
    (group, order), then rank-in-group = within-partition position −
    the group's first position in this partition + the count of the
    group's rows in earlier partitions + 1. Both correction terms
    come from ONE tiny per-(partition, group) aggregate — each range
    partition holds a contiguous slice of the (group, order) space,
    so that table has ≤ |groups| + 2·num_partitions rows — folded
    back with ONE broadcast join. The previous construction
    (global_rank + a second FULL-WIDTH min-rank aggregate + a second
    broadcast join-back) paid an extra full-data pass and join; the
    produced ranks are identical (same total order, same
    partition-offset algebra — pinned by the hypothesis property
    suite against native windows).

    ``count_col`` (r12, guide §2.4): when set, each row also carries
    its GROUP's total row count under that name — Σ of the
    per-(partition, group) counts the offset table already holds, a
    tiny aggregate + null-safe join on the broadcast side, zero extra
    data passes. Consumers needing (rank-in-group, group-n) pairs
    (cume_dist/percent_rank, per-group ntile, LTTB bucketing)
    previously re-scanned the input for the counts.
    """
    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    gnames = [df.select(c).columns[0] for c in gcols]
    # pin_sample: see _pin_ranged.
    if pin_sample:
        df = df.localCheckpoint(eager=False)
    ranged = _pin_ranged(
        df.repartitionByRange(*(gcols + list(order_cols)))
        .sortWithinPartitions(*(gcols + list(order_cols)))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_loc", F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        )
    )
    # Static partition-count ceiling for the guard — NOT
    # ranged.rdd.getNumPartitions(), which builds a separate RDD plan
    # and runs the range-sampling job at query-build time (measured
    # +0.3-0.8 s per call at sf0.1). repartitionByRange without an
    # explicit n never exceeds spark.sql.shuffle.partitions.
    npart = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    stats = ranged.groupBy("_pid", *gnames).agg(
        F.min("_loc").alias("_gmin"), F.count(F.lit(1)).alias("_gcnt")
    )
    prev = stats.select(
        F.col("_pid").alias("_ppid"),
        F.struct(*gnames).alias("_pgk"),
        F.col("_gcnt").alias("_pcnt"),
    )
    # Null-safe triangular offsets: struct equality treats a NULL
    # group key as a value (groupBy semantics), so NULL-keyed groups
    # keep correct cross-partition offsets.
    offs = (
        stats.join(
            F.broadcast(prev),
            (F.struct(*gnames) == F.col("_pgk"))
            & (F.col("_ppid") < F.col("_pid")),
            "left",
        )
        .groupBy("_pid", *gnames)
        .agg(
            F.min("_gmin").alias("_gmin"),
            F.coalesce(F.sum("_pcnt"), F.lit(0)).alias("_goff"),
        )
    )
    offs = _guard_group_count(offs, max_groups + 2 * npart, "grouped_rank")
    if count_col is not None:
        # Group totals = Σ per-(partition, group) counts: an extra
        # aggregate + null-safe join entirely within the tiny stats
        # frame (≤ |groups| + 2·npart rows), riding the same offsets
        # broadcast — no second pass over the data.
        tot = stats.groupBy(*gnames).agg(
            F.sum("_gcnt").cast("long").alias(count_col)
        )
        offs = _nullsafe_equi_join(offs, tot, gnames)
    return (
        _nullsafe_equi_join(ranged, F.broadcast(offs), ["_pid"] + gnames)
        .withColumn(
            rank_col,
            (F.col("_loc") - F.col("_gmin") + F.col("_goff") + 1).cast(
                "long"
            ),
        )
        .drop("_pid", "_loc", "_gmin", "_goff")
    )


def grouped_cumsum(
    df: DataFrame,
    value_col: str | list[str],
    group_cols: list,
    order_cols: list,
    cum_col: str | list[str] = "gcum",
    max_groups: int = MAX_BROADCAST_GROUPS,
    pin_sample: bool = False,
) -> DataFrame:
    """Per-group running sum for LOW-CARDINALITY groups over a
    DATA-SIZED frame — the prefix-sum sibling of ``grouped_rank``
    (same rationale: a per-group window cumsum serializes into one
    reducer per group).

    Mechanics: ONE multi-counter ``global_cumsum`` over the total
    order (group_cols + order_cols), cumulating every value column
    PLUS a constant 1 (the in-group position); each group's offset
    is then ``min_by(cum − value, position)`` = the running total
    just before the group's first row, recovered exactly from the
    bounded per-group aggregate and broadcast back. Values may be
    negative — the offset uses the first-row identity, not
    monotonicity. Integral values only (global_cumsum's exactness
    contract).
    """
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ccols = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if len(vcols) != len(ccols):
        raise ValueError("value_col and cum_col lists must align 1:1")
    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    gnames = [df.select(c).columns[0] for c in gcols]
    base = df.withColumn("_g1", F.lit(1).cast("long"))
    cum = global_cumsum(
        base,
        vcols + ["_g1"],
        gcols + list(order_cols),
        cum_col=[f"_gc_{vc}" for vc in vcols] + ["_gpos"],
        pin_sample=pin_sample,
    )
    offs = cum.groupBy(*gnames).agg(
        *[
            F.min_by(F.col(f"_gc_{vc}") - F.col(vc), F.col("_gpos")).alias(
                f"_goff_{vc}"
            )
            for vc in vcols
        ]
    )
    offs = _guard_group_count(offs, max_groups, "grouped_cumsum")
    out = _nullsafe_equi_join(cum, F.broadcast(offs), gnames)
    drop = ["_g1", "_gpos"]
    for vc, cc in zip(vcols, ccols):
        out = out.withColumn(cc, F.col(f"_gc_{vc}") - F.col(f"_goff_{vc}"))
        drop += [f"_gc_{vc}", f"_goff_{vc}"]
    return out.drop(*drop)


def grouped_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak: list,
    ps: list[float],
    out_cols: list[str],
    max_groups: int = MAX_BROADCAST_GROUPS,
) -> DataFrame:
    """Exact percentile_cont per group — linear interpolation at
    position h = (n−1)·p on the sorted doubles in the TWO-WEIGHT
    form ``(⌈h⌉−h)·lower + (h−⌊h⌋)·higher`` (with the integral-h
    special case returning lower directly), which is ulp-identical
    to Spark's ``Percentile.getPercentile`` — the single-weight
    ``lower + frac·(upper−lower)`` association differs in the last
    ulp on real inputs (hypothesis found one) — via ORDER STATISTICS
    instead of the built-in exact aggregate.

    Why: ``F.percentile``/``F.median`` buffer a value→count map per
    group inside one aggregation state, so with near-continuous
    doubles a single reducer holds every distinct value of the group
    — unbounded at 100 TB. Here the heavy stage is one distributed
    ``grouped_rank`` (range-partitioned, parallel at any group
    size); each requested percentile then needs only the rows at the
    two neighboring ranks ⌊h⌋+1 / ⌈h⌉+1, pulled by a broadcast
    rank-bounds join — post-rank state is ≤ 2·|ps| rows per group
    however large the table. p = 0.0 / 1.0 degenerate to exact
    min / max (frac = 0), so extremes ride the same pass.

    NULL values are skipped, matching ``F.percentile`` /
    ``percentile_cont``: they are filtered before the rank and
    excluded from n. A group whose values are ALL NULL is emitted
    with NULL percentiles — also the built-in convention.

    ``group_cols`` must be bounded-cardinality (grouped_rank's
    broadcast contract, enforced there AND on the per-group bounds
    frame built here — both ride broadcasts); (group, value,
    tiebreak) must be a total order over the non-null rows. Returns
    one row per group with one DOUBLE column per entry of ``ps``
    (named by ``out_cols``).
    """
    if len(ps) != len(out_cols):
        raise ValueError("ps and out_cols must align 1:1")
    if not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"percentiles must be in [0, 1]: {ps}")
    gnames = list(group_cols)
    # The range shuffle behind this rank is the only data-sized stage;
    # everything after it is |groups|-sized.
    ranked = grouped_rank(
        df.where(F.col(value_col).isNotNull()),
        gnames,
        [F.col(value_col)] + list(tiebreak),
        rank_col="_pr",
        max_groups=max_groups,
    )
    # Counts come from the UNfiltered frame with count(value_col): the
    # same n for every group with data, plus an explicit _pn = 0 row
    # for a group whose values are all NULL, so that group survives.
    cnt = df.groupBy(*gnames).agg(F.count(F.col(value_col)).alias("_pn"))
    cnt = _guard_group_count(cnt, max_groups, "grouped_percentiles")
    # Per-group rank bounds ⌊h⌋+1 / ⌈h⌉+1 and weights, broadcast
    # against the rank: only the rows at those ranks are kept.
    sel = [*gnames]
    keep = F.lit(False)
    for p, oc in zip(ps, out_cols):
        h = (F.col("_pn") - 1).cast("double") * F.lit(float(p))
        sel += [
            (F.floor(h).cast("long") + 1).alias(f"_lo_{oc}"),
            (F.ceil(h).cast("long") + 1).alias(f"_hi_{oc}"),
            (h - F.floor(h)).alias(f"_f_{oc}"),
            (F.ceil(h) - h).alias(f"_cf_{oc}"),
        ]
        keep = (
            keep
            | (F.col("_pr") == F.col(f"_lo_{oc}"))
            | (F.col("_pr") == F.col(f"_hi_{oc}"))
        )
    b = cnt.select(*sel, "_pn")
    matched = _nullsafe_equi_join(ranked, F.broadcast(b), gnames).filter(keep)
    # All-NULL groups have no ranked rows to select; they join back as
    # bounds-only rows (a filter on the |groups|-sized counts), so the
    # interpolation below emits them with NULL percentiles.
    j = matched.unionByName(
        b.filter(F.col("_pn") == 0), allowMissingColumns=True
    ).drop("_pn")

    def _at(rank_col: str) -> Column:
        return F.max(F.when(F.col("_pr") == F.col(rank_col), F.col(value_col)))

    aggs = []
    for oc in out_cols:
        lo, hi = _at(f"_lo_{oc}"), _at(f"_hi_{oc}")
        f = F.max(F.col(f"_f_{oc}"))
        cf = F.max(F.col(f"_cf_{oc}"))
        same = F.max(F.col(f"_lo_{oc}")) == F.max(F.col(f"_hi_{oc}"))
        aggs.append(F.when(same, lo).otherwise(cf * lo + f * hi).alias(oc))
    return j.groupBy(*gnames).agg(*aggs)


def bucketized_weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
    bucket_width: int = 1024,
    out_col: str = "wq",
) -> DataFrame:
    """Exact weighted quantile per group — the smallest value whose
    cumulative weight cw satisfies ``q_den·cw ≥ q_num·tw`` (pure
    integer compare; median = 1/2) — via TWO-LEVEL BUCKET SEARCH,
    the shape whose post-scan work is bounded by the VALUE DOMAIN,
    not by row count.

    Level 1 aggregates the fact straight to (group, value/width)
    bucket weights: the bucket domain is |value range| / width —
    constant in N — so map-side combine collapses every task's rows
    before the shuffle and the per-group running sum over buckets is
    a bounded window (each group's reducer holds ≤ |buckets| rows
    however large the table). The first bucket whose cumulative
    weight crosses the quantile is exact by monotonicity. Level 2
    broadcast-prunes the per-(group, value) weight frame (unpinned:
    both levels derive from ONE fact aggregation, which exchange reuse
    shares between them) to that one bucket per group — a width-bounded
    sliver — and resolves the exact value with one more bounded
    window.

    Versus a range-partitioned global cumsum over every (group,
    distinct value): no sampling pass, no range shuffle, no layout
    checkpoint — the only full-width stage is one narrow fact scan
    feeding a hash aggregation. Group cardinality is
    unrestricted (windows partition BY group; it is the per-group
    row count that is bounded, the agg_gini condition inverted).
    Accordingly the level-2 prune join carries NO broadcast hint —
    the per-group frame is one row per group, so with bounded groups
    AQE promotes it to a broadcast at runtime, and with huge group
    counts Spark plans an ordinary shuffle join (all predicates are
    equi) instead of OOMing a forced broadcast.

    ``value_col`` and ``weight_col`` must be integral (checked at
    plan-build time, the global_cumsum dtype contract); |value| must
    stay below 2^53 / width (the bucket id is derived with exact
    floor division through doubles) and weights must be non-negative
    — both VALIDATED in-plan: a violating row fails the action with
    a clear raise_error instead of silently skewing the quantile.
    Rows where the value or the weight is NULL are SKIPPED — the SQL
    aggregate convention (``sum``/``percentile`` ignore NULLs), NOT
    routed to the guards (a bare ``w >= 0`` predicate is NULL for
    NULL w, which would fire the otherwise/raise_error branch and
    fail the whole action on data that every other aggregate in the
    engine tolerates). Pinned by tests/test_properties.py.
    Output: one row per group, ``out_col`` = the quantile value
    (LONG, the original integer grain).
    """
    from pyspark.sql.window import Window

    if not (0 < q_num <= q_den):
        raise ValueError(f"quantile {q_num}/{q_den} must be in (0, 1]")
    for c in (value_col, weight_col):
        ct = df.schema[c].dataType.simpleString()
        if ct not in ("int", "bigint", "smallint", "tinyint"):
            raise ValueError(
                f"bucketized_weighted_quantile needs integral columns, "
                f"got {c}: {ct} — float values break the exact bucket "
                f"floor-division and float weights make the cumulative "
                f"compare order-dependent"
            )
    gnames = list(group_cols)
    # NULL-skip convention: a row with NULL value or NULL weight
    # contributes nothing (and never reaches the in-plan guards,
    # whose when-predicates would otherwise route NULL to the
    # raise_error branch). One filter here covers both the level-1
    # bucket aggregation and the level-2 in-bucket resolution.
    df = df.filter(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    )
    vmax = (1 << 53) // bucket_width
    v = F.when(
        F.abs(F.col(value_col)) < F.lit(vmax),
        F.col(value_col),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"bucketized_weighted_quantile: |{value_col}| must stay "
                f"below 2^53/width = {vmax} for exact bucket ids"
            )
        )
    )
    w = F.when(F.col(weight_col) >= 0, F.col(weight_col)).otherwise(
        F.raise_error(
            F.lit(
                f"bucketized_weighted_quantile: negative weight in "
                f"{weight_col} — cumulative weights must be monotone"
            )
        )
    )
    # (Bucket ids below use floor division that is exact for negatives
    # too: pmod is always non-negative, so (v - pmod) is an exact
    # multiple of the width.)
    # ONE fact pass (r13, VERDICT r12 task 5): aggregate straight to
    # per-(group, value) weight sums — cardinality bounded by
    # |groups| · |value domain|, the operator's own contract — and pin
    # it; the bucket weights AND the in-bucket resolution below both
    # derive from this frame, so the former second full fact scan
    # (the level-2 prune join against ``df``) disappears at every
    # scale. Weight sums are integral, so regrouping them is exact.
    # No pin: both consumers build the IDENTICAL aggregation subtree,
    # so exchange reuse dedups the fact scan + map-side partials (one
    # physical scan); each leg re-runs only the cheap domain-bounded
    # final aggregate above the reused shuffle. (A persist here
    # measured 3.06 s vs 2.30 s — the cache write of the ~|domain|
    # frame costs more than the final-agg recompute it saves.)
    vw = (
        df.select(*gnames, v.alias("_wqv"), w.alias("_wqw"))
        .groupBy(*gnames, "_wqv")
        .agg(F.sum("_wqw").alias("_wqw"))
    )
    bw = vw.groupBy(
        *gnames,
        ((F.col("_wqv") - F.pmod(F.col("_wqv"), F.lit(bucket_width)))
         / F.lit(bucket_width)).cast("long").alias("_b"),
    ).agg(F.sum("_wqw").alias("_bw"))
    w_cum = (
        Window.partitionBy(*gnames)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*gnames)
    bcum = bw.select(
        *gnames,
        "_b",
        "_bw",
        F.sum("_bw").over(w_cum).alias("_cb"),
        F.sum("_bw").over(w_tot).alias("_tw"),
    )
    # The quantile bucket per group; weight strictly below it is
    # cb − the bucket's own weight, carried in the same struct.
    below = (
        bcum.filter(q_den * F.col("_cb") >= q_num * F.col("_tw"))
        .groupBy(*gnames)
        .agg(F.min_by(F.struct("_b", "_cb", "_bw", "_tw"), "_b").alias("_s"))
        .select(
            *[F.col(g).alias(f"_pg_{g}") for g in gnames],
            F.col("_s._b").alias("_pb"),
            (F.col("_s._cb") - F.col("_s._bw")).alias("_below"),
            F.col("_s._tw").alias("_ptw"),
        )
    )
    # eqNullSafe, not ==: a plain equality infers isnotnull(<bucket
    # expr>) and pushes it into THIS leg's scan filter only, making
    # the two aggregation subtrees canonically different — which
    # defeats the exchange reuse that turns the two levels into ONE
    # physical fact scan. _wqv is non-null here by construction
    # (NULL-skip filter + guard), so <=> is the same predicate.
    in_bucket = (
        (
            (F.col("_wqv") - F.pmod(F.col("_wqv"), F.lit(bucket_width)))
            / F.lit(bucket_width)
        )
        .cast("long")
        .eqNullSafe(F.col("_pb"))
    )
    # null-safe via struct equality: a NULL group key is its own
    # group (groupBy semantics); plain = would drop it from the
    # in-bucket pass, and eqNullSafe's coalesce/isnull join keys
    # break exchange reuse (see _nullsafe_equi_join).
    cond = in_bucket & (
        F.struct(*[F.col(g) for g in gnames])
        == F.struct(*[F.col(f"_pg_{g}") for g in gnames])
    )
    # below is |groups|-sized (bounded contract, guarded): hint the
    # broadcast explicitly — with the struct key in the condition the
    # stats-based planner was measured to flip this to a shuffle join
    # (+2 exchanges). The probe side is the pinned (group, value)
    # frame, NOT the fact: no second fact scan (r13).
    inb = vw.join(F.broadcast(below), cond).select(
        *gnames, "_wqv", "_wqw", "_below", "_ptw"
    )
    w_in = (
        Window.partitionBy(*gnames)
        .orderBy("_wqv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        inb.withColumn("_cw", F.col("_below") + F.sum("_wqw").over(w_in))
        .filter(q_den * F.col("_cw") >= q_num * F.col("_ptw"))
        .groupBy(*gnames)
        .agg(F.min("_wqv").alias(out_col))
    )


def ntile_expr(rank_col: str, total_col: str, k: int) -> Column:
    """Exact ntile(k) as BIGINT from a row_number and a group total:
    the first n % k tiles get n DIV k + 1 rows, the rest n DIV k — the
    SQL ntile contract, reproduced from a distributed rank instead of
    a per-group window (win_ntile and win_rank; the property suite
    pins it against F.ntile()). Pure integer arithmetic: DIV, never
    doubles, which would misround once n passes 2^53."""
    rn, n, k = f"CAST(`{rank_col}` AS BIGINT)", f"`{total_col}`", int(k)
    big = f"({n} DIV {k} + 1) * ({n} % {k})"  # rows in the larger tiles
    return F.expr(
        f"CAST(CASE WHEN {rn} <= {big}"
        f" THEN ({rn} - 1) DIV ({n} DIV {k} + 1) + 1"
        f" ELSE {n} % {k} + ({rn} - 1 - {big})"
        f" DIV GREATEST({n} DIV {k}, 1) + 1 END AS BIGINT)"
    )
