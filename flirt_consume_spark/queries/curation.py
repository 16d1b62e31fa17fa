"""Curation & audit operators (round-6, third wave).

Fourteen families closing the remaining everyday-surface gaps:

- ``agg_argmax`` / ``win_nth``: arg-extremum aggregation (max_by /
  min_by) and the nth_value window frame — the two "which row won"
  surfaces the rank keys imply but never exercise directly;
- ``set_intersect_all``: multiset INTERSECT ALL (min-of-multiplicity
  semantics), completing the set-op family (union / except exist);
- ``scan_filemeta``: file-provenance audit via
  ``input_file_name()`` — per-file row counts and key ranges, the
  "which file is corrupt / short" sweep a 100-TB lake runs nightly;
- ``llm_gram_novelty``: per-document novel-shingle ratio (share of a
  doc's distinct 3-grams whose corpus-wide first occurrence is this
  doc) — the marginal-new-content curve used to decide when a crawl
  snapshot stops adding value;
- ``audit_kanon``: k-anonymity audit over quasi-identifier columns —
  groups below the k threshold are re-identification risks;
- ``audit_chisq``: chi-square independence cells between two
  categorical columns (observed vs expected + contribution);
- ``time_autocorr``: per-user lag-1 autocorrelation of event values
  (exact integer moment sums, hardware-sqrt-only final expression);
- ``time_rle``: run-length encoding of consecutive equal event types
  per user (the categorical sibling of time_islands' gap logic);
- ``sample_systematic``: every-k-th-row systematic sample over a
  distributed global rank (no single-reducer window);
- ``llm_bpe_train``: the REAL iterative BPE tokenizer-training loop
  (k rounds of pair-count → argmax → greedy merge over the
  word-frequency table), emitting the learned merge table;
- ``set_union_byname``: schema-drift append —
  ``unionByName(allowMissingColumns=True)`` vs DuckDB's
  UNION ALL BY NAME;
- ``agg_delta_method``: delta-method SE for a clustered
  ratio-of-sums metric (per-user randomization);
- ``audit_contract``: data-contract release gate — six rules folded
  in ONE scan, unpivoted to a rule table.

Hash-match discipline (SURVEY.md §4) as everywhere: integer-exact
aggregation, identical IEEE expression trees for every emitted
double, sqrt allowed (IEEE-754 correctly rounded on both engines),
no transcendentals, total-order tie-breaks on every rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import text as X
from flirt_consume_spark.operators import dedup as D
from flirt_consume_spark.operators.scale import global_rank
from flirt_consume_spark.queries.base import query, t

# --- arg-extremum aggregation (max_by / min_by) --------------------------


@query(
    "agg_argmax",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC
             ) AS rx,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC, o_orderkey ASC
             ) AS rn
      FROM orders
    )
    SELECT o_orderpriority,
           MAX(CASE WHEN rx = 1 THEN o_orderkey END) AS top_orderkey,
           MAX(CASE WHEN rx = 1 THEN o_totalprice END) AS top_price,
           MAX(CASE WHEN rn = 1 THEN o_orderkey END) AS bottom_orderkey,
           MAX(CASE WHEN rn = 1 THEN o_totalprice END) AS bottom_price
    FROM r GROUP BY 1
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29: arg-extremum aggregation — per priority class, WHICH order
    carries the highest/lowest total price (``max_by``/``min_by``,
    Spark's arg_max surface), not just what that price is.

    Determinism: prices collide, so the comparator is the struct
    (o_totalprice, o_orderkey) — a total order; the oracle replays the
    identical tie-break with a two-key window. Scale: one hash
    aggregation with map-side partials carrying O(1) state per group
    (the current champion pair) — the cheapest possible "which row
    won" plan; the window-based oracle formulation would shuffle and
    sort the whole table, which is exactly what max_by avoids."""
    od = t(spark, sf_dir, "orders")
    cmp_hi = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return od.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", cmp_hi).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
        F.min_by("o_orderkey", cmp_hi).alias("bottom_orderkey"),
        F.min("o_totalprice").alias("bottom_price"),
    )


# --- nth_value window ----------------------------------------------------


@query(
    "win_nth",
    oracle="""
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
             ) AS rn,
             nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS second_price
      FROM orders
    )
    SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn, second_price
    FROM w
    """,
)
def win_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: nth_value window frame — each order row sees the
    customer's SECOND-ever order price once it exists (NULL before),
    the "compare to early-lifetime anchor" shape.

    Frame is ROWS UNBOUNDED PRECEDING..CURRENT ROW on both engines so
    the value appears only from row 2 onward. Partition key is
    o_custkey (high cardinality) — parallel at any scale; order key
    (o_orderdate, o_orderkey) is total so ranks are deterministic."""
    od = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return od.select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .cast("bigint")
        .alias("rn"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# --- multiset INTERSECT ALL ----------------------------------------------


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_orderpriority,
           CAST(month(o_orderdate) AS BIGINT) AS order_month
    FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT ALL
    SELECT o_orderpriority, CAST(month(o_orderdate) AS BIGINT)
    FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: INTERSECT ALL — multiset intersection with
    min-of-multiplicity semantics: a (priority, month) row appears
    min(n_1995, n_1996) times. Completes the set-op family alongside
    set_union (UNION/ALL) and set_diff (EXCEPT).

    Spark plans intersectAll as one partial-count aggregation per
    side + a join on the group key — two map-side-combinable shuffles
    over COUNTS (25 priorities × 12 months of them), never row-level
    data; the duplicate re-expansion is a narrow generate. Scales
    flat at 100 TB because the shuffled state is the group-count
    table, not the rows."""
    od = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.year("o_orderdate").alias("_y"),
    )
    a = od.filter(F.col("_y") == 1995).drop("_y")
    b = od.filter(F.col("_y") == 1996).drop("_y")
    return a.intersectAll(b)


# --- file-provenance audit ------------------------------------------------


@query(
    "scan_filemeta",
    oracle="""
    SELECT 'customer.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
    FROM customer
    UNION ALL
    SELECT 'orders.parquet', CAST(COUNT(*) AS BIGINT),
           MIN(o_orderkey), MAX(o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem.parquet', CAST(COUNT(*) AS BIGINT),
           MIN(l_orderkey), MAX(l_orderkey)
    FROM lineitem
    """,
)
def scan_filemeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: file-provenance audit — per INPUT FILE row counts and
    primary-key ranges via ``input_file_name()``, the sweep that
    answers "which file in this 100-TB lake is short / corrupt /
    out of key range" without any external manifest.

    Grouping key is the file basename (``input_file_name`` returns a
    full ``file:///`` URI; the oracle can't know the tmp prefix, so
    both sides emit the basename). One hash aggregation per table
    with O(files) groups — partial aggregation collapses each task's
    rows to one record per file before the shuffle, so the audit
    costs one narrow scan per table regardless of data volume. The
    basename regexp runs AFTER the aggregation — |files| evaluations
    instead of one per row (the raw URI is just as good a grouping
    key, and per-row regexp was the scan's hot spot). At the
    driver's SF each table is a single parquet file; with a
    partitioned layout the same plan emits one row per part-file."""
    outs = []
    for tbl, key in (
        ("customer", "c_custkey"),
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
    ):
        d = t(spark, sf_dir, tbl)
        outs.append(
            d.groupBy(F.input_file_name().alias("_uri"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min(key).alias("min_key"),
                F.max(key).alias("max_key"),
            )
            .select(
                F.regexp_extract(F.col("_uri"), r"([^/]+)$", 1).alias(
                    "file_name"
                ),
                "n_rows",
                "min_key",
                "max_key",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# --- novel-shingle ratio --------------------------------------------------


@query(
    "llm_gram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
      FROM documents
      WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS shingle
      FROM (SELECT doc_id, tok,
                   unnest(generate_series(1, len(tok) - 2)) AS i
            FROM toks)
    ), first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh JOIN first_seen f USING (shingle)
    GROUP BY 1
    """,
)
def llm_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L34: marginal-novelty curve — per document, the share of its
    distinct 3-gram shingles whose corpus-wide FIRST occurrence (min
    doc_id, i.e. ingestion order) is this document. The aggregate of
    this ratio over a crawl snapshot is the "is this source still
    adding new content?" signal used to stop re-crawling a domain.

    Exactness: counts are integers; novelty is one IEEE division of
    two exactly-representable ints — bit-identical on both engines.
    Scale: distinct (doc, shingle) pairs are produced NARROW
    (per-doc array_distinct, no global distinct shuffle), then one
    hash agg to (shingle → first_doc) and one shuffle join back on
    shingle. Zipf-head shingles are bounded the same way llm_tfidf's
    df agg is: partial aggregation collapses the hot keys map-side;
    the join fan-out is per-(doc,shingle), never quadratic."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
    )


# --- k-anonymity audit ----------------------------------------------------

_KANON_K = 25


@query(
    "audit_kanon",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < {_KANON_K} AS at_risk
    FROM customer
    GROUP BY 1, 2
    """,
)
def audit_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 governance family: k-anonymity audit — group sizes over
    the quasi-identifier pair (nation, market segment); any group
    smaller than k={_k} is a re-identification risk that a release
    gate must suppress or generalize.

    One hash aggregation, O(|nations|×|segments|) groups — the audit
    is a constant-size result at any data volume, and partial
    aggregation means the full table never shuffles. The at_risk
    flag is computed from the exact integer count on both engines.
    """.replace("{_k}", str(_KANON_K))
    cu = t(spark, sf_dir, "customer")
    return cu.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        "c_mktsegment",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        (F.count(F.lit(1)) < _KANON_K).alias("at_risk"),
    )


# --- chi-square independence cells ---------------------------------------


@query(
    "audit_chisq",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY 1, 2
    ), rt AS (
      SELECT pri, CAST(SUM(n_obs) AS BIGINT) AS n_row FROM obs GROUP BY 1
    ), ct AS (
      SELECT status, CAST(SUM(n_obs) AS BIGINT) AS n_col FROM obs GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs
    )
    SELECT pri, status, n_obs, n_row, n_col,
           CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE) / CAST(n AS DOUBLE)
             AS expected,
           (CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE))
           * (CAST(n_obs AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE))
           / (CAST(n AS DOUBLE)
              * CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE))
             AS contribution
    FROM obs JOIN rt USING (pri) JOIN ct USING (status), tot
    """,
)
def audit_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: chi-square independence cells between order priority and
    order status — observed count, marginals, expected count under
    independence, and the per-cell chi-square contribution
    (obs−exp)²/exp, algebraically rearranged to
    (obs·n − row·col)² / (n·row·col) so every operand is an
    exactly-representable integer lifted to double and the expression
    tree is identical on both engines (products and divisions only —
    no catastrophic cancellation of pre-divided doubles).

    The global statistic is the SUM of the contribution column; it is
    deliberately NOT emitted because summing 15 doubles is
    order-dependent — consumers fold the (deterministic) cell table.
    Scale: one hash agg to the 15 contingency cells, coalesced to one
    partition; the marginals and the grand total are windows over it,
    so nothing after the first agg shuffles. A cell whose priority or
    status is NULL counts toward the totals but is not emitted, as the
    oracle's inner equi-joins on the margins drop it."""
    od = t(spark, sf_dir, "orders")
    obs = od.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_obs")).coalesce(1)
    total = lambda *by: F.sum("n_obs").over(Window.partitionBy(*by))  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n_obs") * d("n") - d("n_row") * d("n_col")
    return (
        obs.withColumns(
            {"n_row": total("pri"), "n_col": total("status"), "n": total()}
        )
        .filter(F.col("pri").isNotNull() & F.col("status").isNotNull())
        .select(
            "pri",
            "status",
            "n_obs",
            "n_row",
            "n_col",
            (d("n_row") * d("n_col") / d("n")).alias("expected"),
            (num * num / (d("n") * d("n_row") * d("n_col"))).alias(
                "contribution"
            ),
        )
    )


# --- per-user lag-1 autocorrelation --------------------------------------

# Value quantization for exact moment sums: floor(value·1e3) as BIGINT.
# events.value ∈ [0, 500); quantized ≤ 5e5, squares ≤ 2.5e11, and a
# user's pair count is bounded by their event count — Σx² per user
# stays far under 2^63 even at 100 TB (per-user history, not global).
_AC_SCALE = 1000


@query(
    "time_autocorr",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(value * {_AC_SCALE}) AS BIGINT) AS x,
             lag(CAST(floor(value * {_AC_SCALE}) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS px
      FROM events
    ), m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(px) AS BIGINT) AS sy,
             CAST(SUM(x * px) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(px * px) AS BIGINT) AS syy
      FROM seq WHERE px IS NOT NULL
      GROUP BY 1
    )
    SELECT user_id, n, sx, sy, sxy, sxx, syy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS autocorr
    FROM m
    WHERE n >= 2
      AND n * sxx - sx * sx > 0
      AND n * syy - sy * sy > 0
    """,
)
def time_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: per-user lag-1 autocorrelation of event values — "are
    this user's consecutive measurements persistent or mean-
    reverting?", the screening stat before fitting any sequential
    model per entity.

    Exactness: values are floor-quantized to integers once, all five
    moment sums are exact BIGINT arithmetic (order-independent), and
    the Pearson formula is evaluated in one identical double
    expression tree whose only non-arithmetic op is sqrt —
    IEEE-754-correctly-rounded on both engines (unlike ln/exp,
    hardware sqrt has no cross-libm ulp variance). Degenerate series
    (constant x or constant lag) are filtered by the exact integer
    variance numerators. Scale: the lag window partitions by
    user_id — high cardinality, embarrassingly parallel — and the
    moment agg is one map-combinable hash agg; no global window, no
    per-group serialization beyond a user's own history."""
    ev = t(spark, sf_dir, "events")
    x = F.floor(F.col("value") * _AC_SCALE).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", x.alias("x"), F.lag(x).over(w).alias("px")
    ).filter(F.col("px").isNotNull())
    m = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("px").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("px")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("px") * F.col("px")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        m.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .withColumn(
            "autocorr",
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (
                F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
                * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
            ),
        )
    )


# --- run-length encoding of event-type sequences -------------------------


@query(
    "time_rle",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type, ts,
             SUM(brk) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_id
      FROM seq
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS run_start,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM runs GROUP BY 1, 2, 3
    """,
)
def time_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22: run-length encoding — collapse each user's event stream
    into maximal runs of consecutive equal event types (run id, type,
    start, length). The categorical dual of time_islands' gap
    detection; the input shape for "n-th consecutive failure" alerts
    and session-behavior compression.

    Breaks come from a null-safe lag comparison (first row is a
    break), run ids from the running sum of breaks — both windows
    partition by user_id (high cardinality ⇒ parallel; a user's
    history fits a task by construction). The final roll-up is a hash
    agg on (user, run). Timestamps are emitted as µs strings per the
    house timestamp discipline."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("run_id"),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "run_start"
        ),
        F.count(F.lit(1)).cast("bigint").alias("run_len"),
    )


# --- systematic sampling over a global rank ------------------------------

_SYS_K = 100


@query(
    "sample_systematic",
    oracle=f"""
    WITH r AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS rnk
      FROM orders
    )
    SELECT o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk % {_SYS_K} = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L35: systematic (every k-th) sampling over a total order —
    the evenly-spaced audit sample a reviewer pulls when they want
    coverage across the whole key range rather than an iid draw
    (which clusters). Deterministic by construction: rank over the
    unique o_orderkey, keep multiples of k={_k}.

    Scale: the rank comes from ``operators.scale.global_rank``
    (range-repartition + within-partition counters + broadcast
    prefix offsets) — no partition-less window, no single reducer;
    the modulo filter is applied before any further shuffle so
    only n/k rows survive the stage boundary.
    """.replace("{_k}", str(_SYS_K))
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_rank(od, ["o_orderkey"], "rnk")
    return ranked.filter(F.col("rnk") % _SYS_K == 0).select(
        "o_orderkey", "o_totalprice", F.col("rnk").cast("bigint").alias("rnk")
    )


# --- iterative BPE tokenizer training ------------------------------------

_BPE_MERGES = 4


def _bpe_oracle(k: int, tail: str | None = None) -> str:
    """Unrolled k-iteration BPE trainer in DuckDB SQL. Each round:
    adjacent-pair counts over the current symbolization (weighted by
    word frequency), argmax pair under the (cnt DESC, a, b) total
    order, then the greedy leftmost-non-overlapping merge applied via
    literal replace on the bracketed form. ``tail`` overrides the
    final SELECT (default: the merge table) — llm_bpe_encode appends
    its per-document encoding pass over the final vocab CTE w{k}."""
    parts = [
        r"""
    WITH w0 AS (
      SELECT w, regexp_replace(w, '(.)', '(\1)', 'g') AS s, freq FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          FROM documents
        ) WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY w
      )
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""
    , t{r} AS (
      SELECT toks, freq,
             unnest(generate_series(1, len(toks) - 1)) AS i
      FROM (SELECT str_split(substr(s, 2, len(s) - 2), ')(') AS toks, freq
            FROM w{r - 1})
      WHERE len(toks) >= 2
    ), p{r} AS (
      SELECT toks[i] AS a, toks[i + 1] AS b,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM t{r} GROUP BY 1, 2
    ), b{r} AS (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ), w{r} AS (
      SELECT w, replace(s, '(' || a || ')(' || b || ')',
                        '(' || a || b || ')') AS s, freq
      FROM w{r - 1}, b{r}
    )"""
        )
    if tail is None:
        tail = "\n    UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS sym_a,"
            f" b AS sym_b, cnt FROM b{r}"
            for r in range(1, k + 1)
        )
    return "".join(parts) + "\n    " + tail


@query("llm_bpe_train", oracle=_bpe_oracle(_BPE_MERGES))
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36: BPE tokenizer training — the real iterative loop, not just
    one pair count (that's llm_bpe_pairs): k rounds of
    count-adjacent-pairs → pick the argmax merge → apply the greedy
    leftmost-non-overlapping merge across the vocabulary, emitting
    the learned merge table (rank, pair, frequency at merge time) —
    the artifact a tokenizer ships.

    Symbolization is the bracketed form ``(a)(b)(c)``: a merge is a
    LITERAL string replace of ``(a)(b)`` with ``(ab)``, and both
    engines' replace() scans leftmost-non-overlapping — exactly BPE's
    greedy tie-handling — while the brackets make a symbol match
    unambiguous (a pattern can never straddle or match inside a
    multi-char symbol). Argmax is deterministic under the
    (cnt DESC, a, b) total order.

    Scale: the corpus collapses to its WORD-FREQUENCY table before
    round 1 (the standard BPE trick), so every iteration is
    vocabulary-sized, not corpus-sized: one hash agg for pair counts
    + a 1-row TakeOrdered + a narrow map for the merge. The k
    per-round argmax rows are the ONLY driver-side data movement
    (same O(1)-per-iteration collect pattern as emb_kmeans); the
    vocab table is cached across rounds. At 100 TB the corpus scan
    happens once; k more rounds cost k vocabulary passes."""
    merges, _ = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank bigint, sym_a string, sym_b string, cnt bigint"
    )


def _bpe_fit(spark: SparkSession, sf_dir: str):
    """Run the k-round BPE loop; return (merge table rows, final
    symbolized vocab DataFrame (w, s, freq)). Shared by the trainer
    key (emits the merges) and the encoder key (consumes the final
    vocab). Runs fresh per invocation: each bench/oracle run pays the
    (vocabulary-sized) training loop."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(X.tokens("text")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    sym = words.select(
        "w", F.regexp_replace("w", "(.)", "($1)").alias("s"), "freq"
    ).localCheckpoint(eager=True)
    merges = []
    for rank in range(1, _BPE_MERGES + 1):
        toks = sym.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(").alias(
                "toks"
            ),
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
        top = cnt.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not top:
            # No adjacent pair left anywhere (empty corpus, or every
            # word fully merged to one symbol): BPE training is done.
            # Real tokenizer trainers stop here too — k is a budget,
            # not a guarantee. The unrolled SQL oracle agrees on the
            # merge table (its LIMIT 1 rounds are empty from here on).
            break
        best = top[0]
        merges.append((rank, best["a"], best["b"], best["cnt"]))
        sym = sym.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f"({best['a']})({best['b']})"),
                F.lit(f"({best['a']}{best['b']})"),
            ),
        )
    return merges, sym


@query(
    "llm_bpe_encode",
    oracle=_bpe_oracle(
        _BPE_MERGES,
        tail=rf"""
    docw AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents
      ) WHERE regexp_matches(w, '^[a-z]{{2,}}$') GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(SUM(c * len(w)) AS BIGINT) AS n_chars,
           CAST(SUM(c * len(str_split(substr(s, 2, len(s) - 2), ')(')))
                AS BIGINT) AS n_tokens,
           CAST(SUM(c * len(w)) AS DOUBLE)
             / CAST(SUM(c * len(str_split(substr(s, 2, len(s) - 2), ')(')))
                    AS DOUBLE) AS chars_per_token
    FROM docw JOIN w{_BPE_MERGES} USING (w)
    GROUP BY doc_id
    """.replace("docw AS", ", docw AS"),
    ),
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38: BPE encoding — the inference half of llm_bpe_train: apply
    the learned merge table to every document and report its token
    count and chars-per-token compression, the fertility metric that
    decides whether a tokenizer is worth shipping.

    Encoding rides the trained VOCAB, not the corpus: each distinct
    word's final symbol count comes from the trainer's end-state
    symbolization, and a document's token count is Σ count(word) ×
    n_syms(word) — a per-doc word-count agg joined to the (small,
    broadcast) vocab. Exact integers + one IEEE division. At 100 TB
    the corpus is scanned once for the doc-word counts; the merge
    loop itself is vocabulary-sized (see llm_bpe_train)."""
    _, sym = _bpe_fit(spark, sf_dir)
    vocab = sym.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(")
        )
        .cast("bigint")
        .alias("n_syms"),
    )
    docs = t(spark, sf_dir, "documents")
    docw = (
        docs.select(
            "doc_id",
            F.explode(
                X.tokens("text")
            ).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_chars = F.sum(F.col("c") * F.length("w")).cast("bigint")
    n_toks = F.sum(F.col("c") * F.col("n_syms")).cast("bigint")
    return (
        docw.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            n_chars.alias("n_chars"),
            n_toks.alias("n_tokens"),
            (n_chars.cast("double") / n_toks.cast("double")).alias(
                "chars_per_token"
            ),
        )
    )


# --- schema-drift union (UNION BY NAME) ----------------------------------


@query(
    "set_union_byname",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice, NULL AS o_orderstatus
    FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: position-independent UNION with missing-column fill —
    ``unionByName(allowMissingColumns=True)``, the append that makes
    schema drift across snapshot generations survivable: the 1995
    extract carries o_totalprice but not o_orderstatus, the 1996
    extract the reverse and in a different column order; the union
    aligns by NAME and null-fills what a side lacks (a positional
    UNION would silently zip mismatched columns — the classic
    ingestion corruption).

    Zero-shuffle: both legs are scans with pushed year filters and
    the union is a plan-level concatenation; the null fill is a
    constant projection. The oracle replays the alignment with
    DuckDB's UNION ALL BY NAME."""
    od = t(spark, sf_dir, "orders")
    a = od.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    b = od.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return a.unionByName(b, allowMissingColumns=True)


# --- delta-method ratio-metric standard error ----------------------------

# Per-event values quantized to 1e-3 units once. The product sums and
# the central-moment numerators n·Sxx−Sx² run in DECIMAL(38,0) on the
# Spark side (they cross int64 just past sf0.3 — measured 1.15e18 at
# sf0.1, ~sf² growth: tools/audit_capacity.py) and in native HUGEINT
# on the DuckDB side; n/sx/sy stay BIGINT (linear, far inside int64).
_DM_SCALE = 1000


@query(
    "agg_delta_method",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(floor(value * {_DM_SCALE}) AS BIGINT)) AS BIGINT)
               AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(x * x) AS sxx,
             SUM(y * y) AS syy,
             SUM(x * y) AS sxy
      FROM per_user GROUP BY 1
    )
    SELECT event_type, n, sx, sy,
           CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
           sqrt(
             (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
              - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             / (CAST(n AS DOUBLE)
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
           ) AS ratio_se
    FROM m WHERE n >= 2
    """,
)
def agg_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: delta-method standard error for a ratio-of-sums metric
    (value per event, clustered by user) — the correct uncertainty
    for per-user-randomized experiments where the naive per-row SE is
    wrong because rows within a user correlate. ratio is in 1e-3
    value units (the declared quantization grid).

    Var(Σx/Σy) ≈ (σx² + R²σy² − 2Rσxy)/(n·ȳ²) over per-user pairs:
    the three central-moment numerators n·Sxx−Sx² etc. are EXACT
    BIGINT integers; the final expression is one fixed IEEE tree
    whose only non-arithmetic op is hardware sqrt. Scale: two hash
    aggs (events→per-user, per-user→per-arm), both map-side
    combinable, output O(|event types|); no window, no join."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.floor(F.col("value") * _DM_SCALE).cast("bigint"))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    # The central-moment numerators n·Sxx−Sx² cross int64 just past
    # sf0.3 (measured 1.15e18 at sf0.1, ~sf² growth —
    # tools/audit_capacity.py), so the product sums and the numerator
    # products run in decimal(38,0): exact past sf100, and the cast
    # to double at the end is the same value either way. DuckDB forms
    # the identical numerators in native HUGEINT.
    dc = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dc("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dc("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(dc("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = d("sx") / d("sy")
    vxx = (dc("n") * F.col("sxx") - dc("sx") * F.col("sx")).cast("double")
    vyy = (dc("n") * F.col("syy") - dc("sy") * F.col("sy")).cast("double")
    vxy = (dc("n") * F.col("sxy") - dc("sx") * F.col("sy")).cast("double")
    yb = d("sy") / d("n")
    se = F.sqrt(
        (vxx + r * r * vyy - F.lit(2.0) * r * vxy)
        / (d("n") * (d("n") - F.lit(1.0)))
        / (d("n") * yb * yb)
    )
    return m.filter(F.col("n") >= 2).select(
        "event_type", "n", "sx", "sy", r.alias("ratio"), se.alias("ratio_se")
    )


# --- data-contract validation --------------------------------------------


@query(
    "audit_contract",
    oracle="""
    SELECT 'orderkey_not_null' AS rule,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'price_positive',
           CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_enum',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL
                              OR o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'priority_format',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL
                              OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'date_range',
           CAST(SUM(CASE WHEN o_orderdate IS NULL
                              OR o_orderdate < TIMESTAMP '1990-01-01'
                              OR o_orderdate >= TIMESTAMP '2010-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    """,
)
def audit_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: data-contract validation — the release gate that checks a
    snapshot against its declared contract (nullability, key
    uniqueness, value domains, enum membership, format regex, date
    sanity) and emits one row per rule with the violation count.

    ONE scan: all six rule counters fold in a single hash-free global
    aggregation (map-side partials, 1 output row), then a stack()
    unpivot turns the counter struct into the rule table — the oracle
    spells the same rules as six scans because oracle cost is
    irrelevant. Null handling is explicit in every predicate so a
    null never silently passes a rule. At 100 TB this is the cheapest
    possible shape: no shuffle carries more than one row of
    counters."""
    od = t(spark, sf_dir, "orders")
    viol = [
        (
            "orderkey_not_null",
            F.col("o_orderkey").isNull(),
        ),
        (
            "price_positive",
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
        ),
        (
            "status_enum",
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("F", "O", "P"),
        ),
        (
            "priority_format",
            F.col("o_orderpriority").isNull()
            | ~F.col("o_orderpriority").rlike("^[1-5]-"),
        ),
        (
            "date_range",
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (
                F.col("o_orderdate")
                >= F.lit("2010-01-01").cast("timestamp")
            ),
        ),
    ]
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)
        for name, cond in viol
    ] + [
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("orderkey_unique"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    ]
    one = od.agg(*aggs)
    rules = [name for name, _ in viol] + ["orderkey_unique"]
    stack_expr = ", ".join(f"'{r}', {r}" for r in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {stack_expr}) AS (rule, n_violations)",
        "_n AS n_checked",
    )


# --- classifier evaluation: confusion matrix -----------------------------


@query(
    "eval_confusion",
    oracle=rf"""
    WITH pred AS (
      SELECT lang AS actual,
             CASE WHEN len(list_filter(
                      regexp_split_to_array(lower(trim(text)), '\s+'),
                      x -> x IN {('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'on', 'for', 'with', 'by', 'is', 'are', 'was', 'be', 'at', 'as', 'it', 'that')}))
                    / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                    >= 0.1
                  THEN 'en' ELSE 'unk' END AS predicted
      FROM documents
    ), cells AS (
      SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_cell
      FROM pred GROUP BY 1, 2
    ), ra AS (
      SELECT actual, CAST(SUM(n_cell) AS BIGINT) AS n_actual
      FROM cells GROUP BY 1
    ), rp AS (
      SELECT predicted, CAST(SUM(n_cell) AS BIGINT) AS n_pred
      FROM cells GROUP BY 1
    )
    SELECT actual, predicted, n_cell, n_actual, n_pred,
           CAST(n_cell AS DOUBLE) / CAST(n_actual AS DOUBLE) AS recall_share,
           CAST(n_cell AS DOUBLE) / CAST(n_pred AS DOUBLE) AS precision_share
    FROM cells JOIN ra USING (actual) JOIN rp USING (predicted)
    """,
)
def eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: classifier evaluation — the confusion matrix of the
    llm_langid heuristic against the documents table's ground-truth
    lang column, with row/column marginals and the per-cell
    recall/precision shares (diagonal cells ARE per-class recall and
    precision; off-diagonal cells are the error decomposition) — the
    standard eval artifact for any labeling stage in a data pipeline.

    One hash agg to O(classes²) cells, then two broadcast marginal
    joins; the two emitted doubles are single
    divisions of exact integers. At 100 TB the prediction expression
    fuses into the scan (no UDF) and nothing after the first agg is
    data-sized."""
    from flirt_consume_spark.operators import text as X

    docs = t(spark, sf_dir, "documents")
    ratio = X.stopword_ratio("text")
    pred = docs.select(
        F.col("lang").alias("actual"),
        F.when(ratio >= 0.1, "en").otherwise("unk").alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cell")
    )
    ra = cells.groupBy("actual").agg(
        F.sum("n_cell").cast("bigint").alias("n_actual")
    )
    rp = cells.groupBy("predicted").agg(
        F.sum("n_cell").cast("bigint").alias("n_pred")
    )
    return (
        cells.join(F.broadcast(ra), "actual")
        .join(F.broadcast(rp), "predicted")
        .select(
            "actual",
            "predicted",
            "n_cell",
            "n_actual",
            "n_pred",
            (F.col("n_cell").cast("double") / F.col("n_actual").cast("double"))
            .alias("recall_share"),
            (F.col("n_cell").cast("double") / F.col("n_pred").cast("double"))
            .alias("precision_share"),
        )
    )


# --- budget-constrained greedy selection ---------------------------------

_BUDGET_CHARS = 30_000


@query(
    "quota_budget_select",
    oracle=rf"""
    WITH sc AS (
      SELECT doc_id,
             floor((
               (least(length(text) / 400.0, 1.0)
                + least(len(list_filter(
                      regexp_split_to_array(lower(trim(text)), '\s+'),
                      x -> x IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'on', 'for', 'with', 'by', 'is', 'are', 'was', 'be', 'at', 'as', 'it', 'that')))
                    / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                    * 4, 1.0)
                + (1 - least(length(regexp_replace(text, '[a-zA-Z0-9 ]',
                                                   '', 'g'))
                             / length(text) * 10, 1.0))
                + len(list_distinct(
                      regexp_split_to_array(lower(trim(text)), '\s+')))
                    / len(regexp_split_to_array(lower(trim(text)), '\s+'))
               ) / 4) * 1e6) / 1e6 AS quality,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ), c AS (
      SELECT doc_id, quality, n_chars,
             CAST(SUM(n_chars) OVER (ORDER BY quality DESC, doc_id)
                  AS BIGINT) AS cum_chars
      FROM sc
    )
    SELECT doc_id, quality, n_chars, cum_chars
    FROM c WHERE cum_chars <= {_BUDGET_CHARS}
    """,
)
def quota_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41: budget-constrained greedy data selection — take documents
    in descending quality order until a character budget is spent
    (the "best B tokens" curation step between scoring and packing;
    quota_per_source caps per group, this caps the TOTAL).

    Determinism: quality is the 1e-6-floored composite score
    (llm_quality's exact pairing) and the selection order
    (quality DESC, doc_id) is total. Scale: the prefix sum over that
    order is ``operators.scale.global_cumsum`` — range-partition +
    within-partition running sums + broadcast offsets, NO
    single-reducer window (the SQL window formulation in the oracle
    is exactly the plan this avoids); the budget filter then prunes
    everything past the cut before any further stage."""
    from flirt_consume_spark.operators import text as X
    from flirt_consume_spark.operators.scale import global_cumsum

    docs = t(spark, sf_dir, "documents")
    q = F.floor(X.quality_score("text") * 1e6) / F.lit(1e6)
    d = docs.select(
        "doc_id",
        q.alias("quality"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).withColumn("negq", -F.col("quality"))
    # pin_sample keeps the range partitioner's sampling pass from
    # re-running the regex-heavy quality projection (r12 session 5).
    cum = global_cumsum(
        d, ["n_chars"], ["negq", "doc_id"], ["cum_chars"], pin_sample=True
    )
    return (
        cum.filter(F.col("cum_chars") <= _BUDGET_CHARS)
        .select(
            "doc_id",
            "quality",
            "n_chars",
            F.col("cum_chars").cast("bigint").alias("cum_chars"),
        )
    )


# --- precision-recall curve ----------------------------------------------

# Shared staged frame for eval_pr_curve and eval_auc — the
# stopword-ratio scoring scan, per-score (n, n_pos) counts, and ONE
# ascending-score multi-counter global_cumsum. The PR curve's
# descending cums derive from it by exact integer algebra
# (cum_desc(v) = total − cum_asc(v) + own(v)). Computed fresh PER
# INVOCATION (global_cumsum lazily pins its output, so one
# invocation's plan legs share one scoring scan + one range shuffle);
# no cross-invocation memo (r13).
def _score_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-score (n, n_pos, cum_n, cum_pos) over ASCENDING score for
    the langid en-ratio scorer on documents; cum columns are the
    three-counter global_cumsum output (exact BIGINTs)."""
    from flirt_consume_spark.operators import text as X
    from flirt_consume_spark.operators.scale import global_cumsum

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        (F.floor(X.stopword_ratio("text") * 1e6) / F.lit(1e6)).alias(
            "score"
        ),
        # NULL lang is the NEGATIVE class (oracle: CASE ... ELSE 0) —
        # a bare boolean cast would label it NULL and knock the row
        # out of every count.
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    by_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    return global_cumsum(
        by_score, ["n", "n_pos"], ["score"], ["cum_n", "cum_pos"]
    )


@query(
    "eval_pr_curve",
    oracle=r"""
    WITH scored AS (
      SELECT floor(len(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'on', 'for', 'with', 'by', 'is', 'are', 'was', 'be', 'at', 'as', 'it', 'that')))
                   / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                   * 1e6) / 1e6 AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), by_score AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM scored GROUP BY 1
    ), cum AS (
      SELECT score, n, n_pos,
             CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER (ORDER BY score DESC) AS BIGINT)
               AS cum_pos
      FROM by_score
    ), tot AS (SELECT CAST(MAX(cum_pos) AS BIGINT) AS p FROM cum)
    SELECT score AS threshold, cum_n, cum_pos,
           CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE) AS precision_at,
           CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE) AS recall_at
    FROM cum, tot
    """,
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: precision-recall curve — one (precision, recall) point
    per distinct score threshold of the langid en-ratio scorer
    against the ground-truth lang label; with eval_confusion this
    completes the classifier-evaluation pair (fixed operating point
    vs the full threshold sweep).

    The curve derives entirely from integer cumulative counts over
    the DESCENDING score order: per-score (n, n_pos) from one hash
    agg, then ONE multi-counter ``global_cumsum`` (range shuffle
    amortized over both counters, no single-reducer window — the
    oracle's SQL windows are exactly the plan this avoids), then two
    single divisions per point. Output is BOUNDED at one row per
    distinct score (the 1e-6-floored ratio grid). At 100 TB the
    data-sized work is the scoring scan + two shuffles."""
    asc = _score_ecdf(spark, sf_dir)
    # Descending cums derive from the shared ASCENDING frame by exact
    # integer algebra — cum_desc(v) = total − cum_asc(v) + own(v) —
    # so this key adds no second scoring scan and no second range
    # shuffle beyond the session-shared staged frame.
    tot = asc.groupBy().agg(
        F.max("cum_n").cast("bigint").alias("nt"),
        F.max("cum_pos").cast("bigint").alias("p"),
    )
    cum_n_d = F.col("nt") - F.col("cum_n") + F.col("n")
    cum_pos_d = F.col("p") - F.col("cum_pos") + F.col("n_pos")
    return (
        asc.crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("threshold"),
            cum_n_d.cast("bigint").alias("cum_n"),
            cum_pos_d.cast("bigint").alias("cum_pos"),
            (cum_pos_d.cast("double") / cum_n_d.cast("double"))
            .alias("precision_at"),
            # try_divide: with zero positives in the corpus recall is
            # undefined (p = 0) — NULL, matching DuckDB. cum_n needs
            # no guard: every emitted row has cum_n ≥ its own n ≥ 1.
            F.try_divide(
                cum_pos_d.cast("double"), F.col("p").cast("double")
            ).alias("recall_at"),
        )
    )


# --- rank-based AUC -------------------------------------------------------


@query(
    "eval_auc",
    oracle=r"""
    WITH scored AS (
      SELECT floor(len(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'on', 'for', 'with', 'by', 'is', 'are', 'was', 'be', 'at', 'as', 'it', 'that')))
                   / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                   * 1e6) / 1e6 AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), vc AS (
      SELECT score, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(SUM(1 - y) AS BIGINT) AS c0
      FROM scored GROUP BY 1
    ), cum AS (
      SELECT c1, c0,
             SUM(c1) OVER (ORDER BY score) AS cum1,
             SUM(c0) OVER (ORDER BY score) AS cum0
      FROM vc
    ), m AS (
      SELECT
        CAST(SUM(c1 * (2 * ((cum1 - c1) + (cum0 - c0))
                       + (c1 + c0) + 1)) AS BIGINT) AS r2,
        CAST(SUM(c1 * c0) AS BIGINT) AS n_tied_pairs,
        CAST(MAX(cum1) AS BIGINT) AS n_pos,
        CAST(MAX(cum0) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           r2 - n_pos * (n_pos + 1) AS u2,
           n_tied_pairs,
           CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
    FROM m
    """,
)
def eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20: exact ROC AUC of the langid en-ratio scorer via the
    rank-sum identity AUC = U/(n₊·n₋) — P(score₊ > score₋) with ties
    counted half, the threshold-free summary completing the eval
    trio (confusion matrix = one operating point, PR curve = the
    sweep, AUC = the scalar).

    Same doubled-midrank integer machinery as audit_mannwhitney
    (2·midrank over the pooled ascending-score order is an integer,
    so 2R₊, the doubled statistic u2 = 2U, and the tied-pair count
    are exact BIGINTs; AUC is one division). ONE multi-counter
    ``global_cumsum`` over per-score counts — two shuffles total at
    any scale, output is a single row."""
    # The shared ascending frame carries (n, n_pos, cum_n, cum_pos);
    # the negative-class counters are exact integer complements.
    cum = (
        _score_ecdf(spark, sf_dir)
        .withColumn("c1", F.col("n_pos"))
        .withColumn("c0", F.col("n") - F.col("n_pos"))
        .withColumn("cum1", F.col("cum_pos"))
        .withColumn("cum0", F.col("cum_n") - F.col("cum_pos"))
    )
    c1, c0 = F.col("c1"), F.col("c0")
    before = (F.col("cum1") - c1) + (F.col("cum0") - c0)
    m = cum.groupBy().agg(
        F.sum(c1 * (2 * before + (c1 + c0) + 1)).cast("bigint").alias("r2"),
        F.sum(c1 * c0).cast("bigint").alias("n_tied_pairs"),
        F.max("cum1").cast("bigint").alias("n_pos"),
        F.max("cum0").cast("bigint").alias("n_neg"),
    )
    u2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return m.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        "n_tied_pairs",
        # try_divide: a single-class corpus (no positives or no
        # negatives) leaves AUC undefined — NULL, matching DuckDB's
        # division-by-zero NULL; identical to / otherwise.
        F.try_divide(
            u2.cast("double"),
            F.lit(2.0)
            * F.col("n_pos").cast("double")
            * F.col("n_neg").cast("double"),
        ).alias("auc"),
    )


# --- parameterized SQL ----------------------------------------------------


@query(
    "sql_params",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_totalprice > 100000.0 AND o_orderstatus = 'O'
    GROUP BY 1
    """,
)
def sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: parameterized SQL — ``spark.sql`` with NAMED PARAMETERS
    (:threshold / :status, server-side typed literals, no string
    splicing — the injection-safe path for templated analytics) and
    a DATAFRAME template argument ({orders} — plan-level
    composition, not a temp-view side effect).

    The named parameters fold to constants at plan time, so the
    filter pushes into the parquet scan exactly as a literal
    predicate would. One hash agg after the pushed scan."""
    od = t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 1e2) AS BIGINT))
                    AS BIGINT) AS cents
        FROM {orders}
        WHERE o_totalprice > :threshold AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"threshold": 100000.0, "status": "O"},
        orders=od,
    )


# --- k-anonymity generalization ladder -----------------------------------


@query(
    "anon_generalize",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_mktsegment AS seg,
             CAST(c_nationkey AS BIGINT) AS nat,
             CAST(n_regionkey AS BIGINT) AS reg
      FROM customer JOIN nation ON n_nationkey = c_nationkey
    ), g0 AS (
      SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n0
      FROM c GROUP BY 1, 2
    ), g1 AS (
      SELECT reg, seg, CAST(COUNT(*) AS BIGINT) AS n1
      FROM c GROUP BY 1, 2
    ), g2 AS (
      SELECT reg, CAST(COUNT(*) AS BIGINT) AS n2 FROM c GROUP BY 1
    ), lv AS (
      SELECT c.c_custkey,
             CASE WHEN g0.n0 >= {_KANON_K} THEN 0
                  WHEN g1.n1 >= {_KANON_K} THEN 1
                  WHEN g2.n2 >= {_KANON_K} THEN 2
                  ELSE 3 END AS level
      FROM c
      JOIN g0 ON g0.nat = c.nat AND g0.seg = c.seg
      JOIN g1 ON g1.reg = c.reg AND g1.seg = c.seg
      JOIN g2 ON g2.reg = c.reg
    )
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM lv GROUP BY 1
    """,
)
def anon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: k-anonymity generalization ladder (Samarati's lattice
    climb, one path): for each record, the MINIMAL coarsening of the
    quasi-identifier (nation,segment) → (region,segment) → (region)
    → suppress at which its group reaches k={_k} — the action side
    of audit_kanon's detection (which groups are unsafe → how much
    must each record generalize to publish safely). Output: how many
    records can be released at each level.

    All three lattice levels' group sizes come from aggregations
    over constant-size group domains; each joins back as a BROADCAST
    (the group tables are O(|nations|·|segments|)), so the record
    pass is one scan + three broadcast hash joins + one final
    constant-size agg — no data-sized shuffle anywhere. Exact
    integer counts throughout.
    """.replace("{_k}", str(_KANON_K))
    cu = t(spark, sf_dir, "customer")
    na = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").cast("bigint").alias("reg"),
    )
    # r13 re-adjudication (VERDICT r12 task 1): the r12 pin of this
    # projection (4 plan scans -> 1) measured SLOWER in the committed
    # A/B (0.80 vs 0.67 s solo median, plans/r13/readjudicate_*.json)
    # — the lattice levels are cheap scan+broadcast-join legs, so the
    # pin's materialization costs more than the re-reads it saves.
    # REVERTED to the unpinned r11 form.
    c = cu.join(F.broadcast(na), "c_nationkey").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("bigint").alias("nat"),
        "reg",
    )
    g0 = c.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0")
    )
    g1 = c.groupBy("reg", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    )
    g2 = c.groupBy("reg").agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    level = (
        F.when(F.col("n0") >= _KANON_K, 0)
        .when(F.col("n1") >= _KANON_K, 1)
        .when(F.col("n2") >= _KANON_K, 2)
        .otherwise(3)
    )
    return (
        c.join(F.broadcast(g0), ["nat", "seg"])
        .join(F.broadcast(g1), ["reg", "seg"])
        .join(F.broadcast(g2), "reg")
        .select(level.cast("bigint").alias("level"))
        .groupBy("level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# --- ANSI-safe arithmetic (try_* family) ----------------------------------


@query(
    "scalar_try",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           -- try_divide is NULL when the divisor is 0 OR the
           -- dividend is NULL — count both, exactly like the Spark
           -- side's div.isNull() (equal on non-degenerate data,
           -- where o_totalprice is never NULL)
           CAST(SUM(CASE WHEN o_custkey % 7 = 0 OR o_totalprice IS NULL
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS n_div_null,
           CAST(SUM(CASE WHEN o_custkey % 7 <> 0 THEN
                  CAST(floor(o_totalprice / (o_custkey % 7) * 1e6)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS safe_div_units,
           CAST(SUM(CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1)
                                       AS INTEGER) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
           CAST(SUM(CASE WHEN TRY_CAST(o_orderstatus AS INTEGER)
                         IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_parsed,
           CAST(SUM(CASE WHEN str_split(o_orderpriority, '-')[3]
                         IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_elem3
    FROM orders
    """,
)
def scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: error-safe expression surface — this engine runs with
    ``spark.sql.ansi.enabled`` (invalid arithmetic FAILS rather than
    silently wrapping, which is how the bench caught a real
    overflow), so the ``try_*`` family is the declared escape hatch:
    try_divide (NULL on zero divisor), try_to_number (NULL on
    malformed numerics), try_element_at (NULL past the array end) —
    each exercised here and folded into one global counter row.

    The oracle spells the identical semantics with DuckDB's
    equivalents (NULL division is native there; TRY_CAST; list
    indexing past the end is NULL). The safe-division sum quantizes
    each surviving quotient to 1e-6 units — exact single divisions,
    order-independent integer sum. One scan, one 1-row aggregate."""
    od = t(spark, sf_dir, "orders")
    div = F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7)
    parsed = F.try_to_number(
        F.substring("o_orderpriority", 1, 1), F.lit("9")
    )
    bad = F.try_to_number(F.col("o_orderstatus"), F.lit("9"))
    elem3 = F.try_element_at(F.split("o_orderpriority", "-"), F.lit(3))
    return od.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(div.isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_div_null"),
        F.sum(
            F.when(div.isNotNull(), F.floor(div * 1e6).cast("long")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("safe_div_units"),
        F.sum(F.when(parsed.isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_parsed"),
        F.sum(F.when(bad.isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_parsed"),
        F.sum(F.when(elem3.isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_elem3"),
    )


# --- calibration (reliability) bins --------------------------------------

_CAL_BINS = 10


@query(
    "eval_calibration",
    oracle=rf"""
    WITH scored AS (
      SELECT floor(len(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'on', 'for', 'with', 'by', 'is', 'are', 'was', 'be', 'at', 'as', 'it', 'that')))
                   / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                   * 1e6) / 1e6 AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), binned AS (
      SELECT LEAST(CAST(floor(score * {_CAL_BINS}) AS BIGINT),
                   {_CAL_BINS - 1}) AS bin,
             CAST(floor(score * 1e6) AS BIGINT) AS s_u, y
      FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(s_u) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE)
             AS mean_score,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
    FROM binned GROUP BY 1
    """,
)
def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: calibration (reliability) bins — per decile of the langid
    en-ratio score: count, positives, mean score, and observed
    positive rate. The |pos_rate − mean_score| gap per bin is the
    reliability-diagram reading, and its n-weighted fold is the
    expected calibration error; the deterministic bin table is
    emitted (the scalar ECE would sum doubles in arbitrary order).
    Completes the eval family: operating point (Q18), sweep (Q19),
    ranking (Q20), probability quality (this).

    Scores sit on the 1e-6 grid, so the per-bin mean is an exact
    integer sum lifted by two divisions spelled identically on both
    engines; bin ids are exact integer floors with the top edge
    clamped into the last bin. One hash agg over ≤ {_b} groups.
    """.replace("{_b}", str(_CAL_BINS))
    from flirt_consume_spark.operators import text as X

    docs = t(spark, sf_dir, "documents")
    score = F.floor(X.stopword_ratio("text") * 1e6) / F.lit(1e6)
    binned = docs.select(
        F.least(
            F.floor(score * _CAL_BINS).cast("bigint"),
            F.lit(_CAL_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.floor(score * 1e6).cast("bigint").alias("s_u"),
        # NULL lang is the NEGATIVE class (oracle: CASE ... ELSE 0) —
        # a bare boolean cast would label it NULL and knock the row
        # out of every count.
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (
            F.sum("s_u").cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "pos_rate"
        ),
    )
