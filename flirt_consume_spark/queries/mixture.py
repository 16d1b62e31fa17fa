"""Round-5 batch-2 operators: bitmap-exact distinct counting,
order-statistic window frames, calendar gap filling, running
distinct, and the data-mixture / index-construction stages of a
training-corpus pipeline (token rarity, weighted language mixing,
inverted-index posting lists, per-group heavy hitters).

Same discipline as every other query module: built-in column
expressions only (zero Python in the hot path), md5-deterministic
ordering instead of RNG, integer / exact-decimal arithmetic so each
key hash-matches its DuckDB oracle bit-for-bit, and a scale note per
key saying why the plan survives 100 TB.

Registered FIRST (queries/__init__.py): these keys are brand-new this
round and have zero external verification rows, so they take the top
of the driver's bounded correctness window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import text as X
from flirt_consume_spark.queries.base import query, t

_TOK_SQL = r"regexp_split_to_array(lower(trim(text)), '\s+')"


# --- exact distinct via bitmap aggregation ---------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id // 64) AS BIGINT) AS n_words
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via bitmap aggregation (roaring-bitmap
    style, the technique warehouses use when HLL's error is not
    acceptable but count-distinct's Expand/shuffle blowup is too
    expensive). Each user_id maps to (word = id DIV 64, bit = id MOD
    64); stage 1 bit_or-folds masks per (group, word) — fully
    map-side combinable, unlike COUNT(DISTINCT) which must shuffle
    every distinct value — and stage 2 sums popcounts. Both stages
    are partial-aggregatable, so at 100 TB the shuffle carries one
    64-bit word per (group, id-range-of-64), never the raw ids. The
    oracle is the ground-truth exact distinct, proving the bitmap
    path loses nothing."""
    ev = t(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            # DIV/pmod stay in long arithmetic — /64 would round-trip
            # through double and corrupt ids past 2^53. Ids assumed
            # non-negative (surrogate keys).
            F.expr("user_id DIV 64").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_words"),
    )


# --- exact median over a sliding window frame ------------------------------


@query(
    "win_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           median(CAST(floor(value * 1e6) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_med
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling MEDIAN over a 5-row sliding frame — an order
    statistic Spark has no native window aggregate for. Composition:
    collect_list over the rows-frame (bounded at 5 elements, so the
    per-row state is O(frame), never O(partition)), array_sort, and
    closed-form middle selection. Values are floor-quantized to 1e-6
    integer units first so the even-frame midpoint average is exact
    IEEE on both engines. One shuffle (hash by user_id) + one
    in-partition sort — the same cost as any window function; the
    frame bound keeps memory flat at any scale."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    from flirt_consume_spark.queries.base import finite_or_fail

    arr = F.array_sort(
        F.collect_list(
            F.floor(
                finite_or_fail(F.col("value"), "win_rolling_median") * 1e6
            ).cast("bigint")
        ).over(w)
    )
    step = ev.select("event_id", "user_id", arr.alias("_a"))
    n = F.size("_a")
    mid_hi = F.floor(n / 2).cast("int") + 1  # 1-based upper middle
    mid_lo = F.floor((n + 1) / 2).cast("int")  # equals mid_hi when odd
    med = (
        F.element_at("_a", mid_lo).cast("double")
        + F.element_at("_a", mid_hi).cast("double")
    ) / 2.0
    # Guard on a non-empty frame array: collect_list drops NULLs, so
    # a frame of all-NULL values collects to [] and the middle index
    # degenerates to 0 (which element_at rejects outright). CASE
    # short-circuits; the median of no values is NULL — exactly
    # DuckDB's window median over NULLs.
    return step.select(
        "event_id",
        "user_id",
        F.when(n > 0, med).alias("roll_med"),
    )


# --- calendar gap filling --------------------------------------------------


@query(
    "time_gap_fill",
    oracle="""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
    b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
          FROM d GROUP BY event_type),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM b),
    c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY event_type, day)
    SELECT s.event_type, s.day, COALESCE(c.n, 0) AS n_events
    FROM spine s LEFT JOIN c USING (event_type, day)
    """,
)
def time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar gap filling: every (event_type, day) between
    that type's first and last activity, zero-filled where no events
    occurred — the spine every time-series model / forecasting
    pipeline needs before resampling. The spine is generated
    per-group with sequence()+explode from a tiny min/max aggregate
    (narrow expansion — the reference-signature E1 pattern reused),
    then left-joined to the per-day counts. At 100 TB the counts agg
    is the only big shuffle; the spine side is |groups|·|days| rows
    built from an aggregate that is itself map-side combinable."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("n")
    )
    spine = (
        ev.groupBy("event_type")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("day")
        )
    )
    return spine.join(counts, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0).cast("bigint")).alias("n_events"),
    )


# --- running distinct count ------------------------------------------------


@query(
    "win_running_distinct",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
             THEN 1 ELSE 0 END AS first_seen
      FROM events)
    SELECT event_id, user_id,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
    FROM f
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — SQL window
    functions famously reject DISTINCT in aggregates, so this is the
    canonical two-window rewrite: flag each row that is the FIRST
    sighting of its (user, event_type), then running-sum the flags.
    Both windows partition on a user_id prefix, so at scale the
    second window reuses the first shuffle's co-partitioning (one
    exchange, two sorts). State per row is O(1); nothing collects
    the distinct set itself."""
    ev = t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    first = F.when(F.row_number().over(w1) == 1, 1).otherwise(0)
    return ev.select(
        "event_id", "user_id", "ts", first.alias("_f")
    ).select(
        "event_id",
        "user_id",
        F.sum("_f").over(w2).cast("bigint").alias("n_types_seen"),
    )


# --- token rarity profile --------------------------------------------------


@query(
    "llm_rarity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN f.cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(MIN(f.cf) AS BIGINT) AS min_cf,
           CAST(SUM(f.cf) AS BIGINT) AS sum_cf
    FROM tok t JOIN freq f USING (token)
    GROUP BY t.doc_id
    """,
)
def llm_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity profile: hapax count (tokens whose
    CORPUS frequency is 1), rarest-token frequency, and summed corpus
    frequencies — the exact-integer core of 'surprise'/perplexity
    quality scoring (rare-token-heavy documents are OOD; all-common
    documents are boilerplate). Two hash aggregations + one equi-join
    on token; at 100 TB the frequency table is vocabulary-sized
    (Zipf: ≪ corpus), the join is token-co-partitioned with the
    explode's natural output, and every aggregate is map-side
    combinable. No logs/doubles anywhere, so the oracle matches
    bit-for-bit."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("cf"))
    return (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cf") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.min("cf").cast("bigint").alias("min_cf"),
            F.sum("cf").cast("bigint").alias("sum_cf"),
        )
    )


# --- deterministic weighted data mixture -----------------------------------

# Target language mixture in percent (sums to 100); the sample target
# is half the corpus. Integer percent × integer target keeps every
# quota exact on both engines.
_MIX_PCT = {"en": 50, "de": 20, "fr": 15, "es": 10, "zh": 5}


def _mix_case() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_PCT.items()
    )
    return f"CASE lang {whens} ELSE 0 END"


@query(
    "sample_mixture",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) // 2 AS target FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS mix_rank,
             ({_mix_case()}) AS pct
      FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.mix_rank AS BIGINT) AS mix_rank
    FROM ranked r, n
    WHERE r.mix_rank <= (n.target * r.pct) // 100
    """,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted data mixture: sample the corpus down to
    a target size with fixed per-language proportions (50/20/15/10/5
    here) — the 'data mixture' stage of pretraining, where sources/
    languages are re-weighted to a recipe rather than their natural
    distribution. Selection order inside each language is md5(doc_id)
    — a deterministic uniform permutation both engines compute
    identically, so the SAME documents are chosen at any parallelism
    (re-runs are reproducible, the property that matters for
    training-data lineage). Quotas are pure integer arithmetic
    (count DIV 2 × pct DIV 100). Per-language ranks come from ONE
    range-partitioned ``grouped_rank`` (broadcast per-lang offsets) —
    never a per-lang window, which would serialize the corpus into
    ~10 reducers — plus a broadcast 1-row total; no global sort, no
    collect."""
    docs = t(spark, sf_dir, "documents")
    target = docs.groupBy().agg(
        (F.count("*") / 2).cast("bigint").alias("target")
    )
    pct = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _MIX_PCT.items()
        ],
        F.lit(0),
    )
    from flirt_consume_spark.operators.scale import grouped_rank

    # grouped_rank, not Window.partitionBy(lang): ~10 languages would
    # serialize the whole corpus into ~10 reducers at scale.
    # The cap is computed from the data, not a literal k, so Spark
    # cannot plan it as a WindowGroupLimit before the exchange.
    ranked = grouped_rank(
        docs.select(
            "doc_id",
            "lang",
            F.md5(F.col("doc_id").cast("string")).alias("_pri"),
            pct.alias("_pct"),
        ),
        ["lang"],
        [F.col("_pri"), F.col("doc_id")],
        rank_col="_mr",
    ).select(
        "doc_id",
        "lang",
        F.col("_mr").cast("bigint").alias("mix_rank"),
        "_pct",
    ).crossJoin(F.broadcast(target))
    quota = F.expr("(target * _pct) DIV 100")
    return ranked.filter(F.col("mix_rank") <= quota).select(
        "doc_id", "lang", "mix_rank"
    )


# --- inverted index construction -------------------------------------------


@query(
    "llm_inverted_index",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents)
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id)[1:8], ',')
             AS postings_head
    FROM pairs GROUP BY token HAVING COUNT(*) >= 5
    """,
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token → document frequency + the
    first 8 postings (sorted doc_ids, comma-joined for a scalar
    hash-stable representation). The build is the classic two-phase
    MapReduce shape Spark executes as one shuffle: explode → distinct
    (map-side combinable) → groupBy(token). Posting lists are
    TRUNCATED per token (head-8 here; a real index shards long lists)
    so no single token's list can blow an executor — the skew story
    for stopword-like tokens at 100 TB. df >= 5 drops the hapax tail
    that would dominate output volume without serving lookups."""
    docs = t(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    ).distinct()
    head = F.slice(F.array_sort(F.collect_set("doc_id")), 1, 8)
    return (
        pairs.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.concat_ws(
                ",", F.transform(head, lambda x: x.cast("string"))
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


# --- per-group heavy hitters -----------------------------------------------


@query(
    "llm_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({_TOK_SQL}) AS token FROM documents
    ), cnt AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY lang, token
    ), tot AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_tokens
      FROM tok GROUP BY lang
    )
    SELECT c.lang, c.token, c.cnt, t.total_tokens,
           CAST((c.cnt * 10000) // t.total_tokens AS BIGINT) AS share_bp
    FROM cnt c JOIN tot t USING (lang)
    WHERE c.cnt * 50 > t.total_tokens
    """,
)
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters per language: tokens exceeding 2% support
    (cnt·50 > total), with their share in integer basis points — the
    exact ground truth that approximate frequent-item sketches
    (Misra-Gries / SpaceSaving) are judged against, and the per-group
    counterpart of global vocab top-k. Two hash aggregations off one
    explode + a broadcast join on the |langs|-row totals frame;
    support filtering happens BEFORE any sort, so only the ~1/support
    possible survivors per group leave the aggregation. Integer DIV
    keeps shares exact."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(X.tokens("text")).alias("token"))
    cnt = tok.groupBy("lang", "token").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = tok.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("total_tokens")
    )
    return (
        cnt.join(F.broadcast(tot), "lang")
        .filter(F.col("cnt") * 50 > F.col("total_tokens"))
        .select(
            "lang",
            "token",
            "cnt",
            "total_tokens",
            F.expr("CAST((cnt * 10000) DIV total_tokens AS BIGINT)").alias(
                "share_bp"
            ),
        )
    )
