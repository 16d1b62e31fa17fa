r"""Lexical-retrieval / corpus-forensics query keys: exact
prefix-filtered set-similarity join, BM25 ranking, Gini–Simpson
lexical diversity, duplicate-passage spans, collocation detection,
winnowing fingerprints, and the embedding covariance aggregation.

These complete the similarity ladder in queries/llm.py from the other
direction: MinHash-LSH (L2) trades recall for a bounded candidate set;
``join_setsim`` keeps recall = 1.0 exactly (prefix + positional
filtering is lossless — operators/retrieval.py) while still never
going all-pairs; ``llm_dupspans`` is the exact-substring half of
training-data dedup; ``llm_winnow`` is the principled
density/recall fingerprint (MOSS); ``bm25_rank`` is the scoring half
of a retrieval stack. All arithmetic is integer or
rational-from-integer (rational idf, rational PMI, integer-unit
moments), so every key hash-matches its DuckDB oracle bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import dedup as D
from flirt_consume_spark.operators import retrieval as R
from flirt_consume_spark.operators.text import tokens
from flirt_consume_spark.queries.base import query, t
from flirt_consume_spark.queries.llm import _SH_CTE

_TOK_STREAM = (
    r"SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)),"
    r" '\s+')) AS token FROM documents"
)


@query(
    "join_setsim",
    oracle=_SH_CTE
    + """
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           sa.n + sb.n - n_inter AS n_union,
           floor(CAST(n_inter AS DOUBLE)
                 / (sa.n + sb.n - n_inter) * 1e6) / 1e6 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 2 * n_inter >= (sa.n + sb.n - n_inter)
    """,
)
def join_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (shingle Jaccard >= 0.5) via
    AllPairs/PPJoin prefix filtering — recall 1.0 by construction,
    unlike the probabilistic LSH rung (llm_minhash_dedup). The oracle
    is the brute-force pairwise join: at sf0.01 that is cheap; the
    Spark plan is the one that survives 100 TB (candidates only from
    rare-first prefixes, verify bounded to candidates). Threshold is
    the integer test 2·inter >= union — no float compare at the
    decision boundary."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"))
    return R.prefix_filtered_pairs(
        sh, id_col="doc_id", item_col="shingle", tau_num=1, tau_den=2
    )


_BM25_TERMS = ("dup", "spark", "merge")
_K1, _B = 1.2, 0.75


@query(
    "bm25_rank",
    oracle=f"""
    WITH tokstream AS ({_TOK_STREAM}),
    dl AS (SELECT doc_id, COUNT(*) AS _dl FROM tokstream GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS _n_docs, CAST(SUM(_dl) AS BIGINT) AS _tot
              FROM dl),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS _tf FROM tokstream
      WHERE token IN ('dup', 'spark', 'merge') GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS _df FROM tf GROUP BY token),
    contrib AS (
      SELECT tf.doc_id,
             ((_n_docs - _df + 0.5) / (_df + 0.5))
             * ((_tf * {_K1 + 1.0}) /
                (_tf + {_K1} * ({1.0 - _B} + {_B}
                 * (_dl / (CAST(_tot AS DOUBLE) / _n_docs))))) AS _s
      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(CAST(SUM(CAST(floor(_s * 1e9) AS BIGINT)) AS DOUBLE)
                / 1e9 AS DOUBLE) AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed 3-term query (one rare
    term, two common — the rare term's rational idf dominates, which
    is the point of BM25). Scoring math in operators/retrieval.py;
    top-k is orderBy+limit = TakeOrdered (per-partition heaps, no
    global sort shuffle). Ties broken by doc_id."""
    docs = t(spark, sf_dir, "documents")
    stream = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    scored = R.bm25_scores(stream, _BM25_TERMS, k1=_K1, b=_B)
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


@query(
    "llm_simpson",
    oracle=f"""
    WITH tokstream AS ({_TOK_STREAM}),
    counts AS (
      SELECT doc_id, token, COUNT(*) AS c FROM tokstream
      GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           1.0 - CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
             AS simpson
    FROM counts GROUP BY doc_id
    """,
)
def llm_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gini–Simpson lexical diversity 1 - Σp_i² — the
    rational (libm-free) cousin of token entropy, used as a quality
    signal for repetitive/template text (low diversity ⇒ boilerplate).
    Two hash aggs, no window, no UDF; Σc and Σc² are integer sums so
    the final division is one deterministic IEEE op on both engines.

    Capacity: the Σc² moment runs in decimal(38,0) on Spark / HUGEINT
    on the oracle (same widening recipe as win_bollinger / agg_ols,
    round 11) — in long alone the capacity audit's conservative
    corpus-level model crossed int64 near sf3,376; headroom is now
    the 1e38 decimal ceiling (≈ sf1e13 under that same model; the
    per-doc grouping actually shipped is sf-invariant, so the real
    ceiling is value-domain bounded). The n² denominator is pure
    double arithmetic off the exact Σc — correctly rounded and
    bit-identical cross-engine at any magnitude, so it needs no
    integer widening."""
    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    # decimal multiply (never a long c*c), decimal(38,0) accumulator
    c2 = F.col("c").cast("decimal(19,0)") * F.col("c")
    return counts.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        (
            F.lit(1.0)
            - F.sum(c2).cast("double")
            / (n.cast("double") * n.cast("double"))
        ).alias("simpson"),
    )


_GRAM_N = 8
_HOT_GRAM_CAP = 20

# 8-token gram stream WITH positions (i is the 1-based start token).
_GRAM_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
  FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 8
), grams AS (
  SELECT doc_id, i,
         tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]
         || ' ' || tok[i+4] || ' ' || tok[i+5] || ' ' || tok[i+6]
         || ' ' || tok[i+7] AS gram
  FROM (SELECT doc_id, tok,
               unnest(generate_series(1, len(tok) - 7)) AS i
        FROM toks)
), kept AS (
  SELECT g.* FROM grams g
  JOIN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 20) f
    ON f.gram = g.gram
)
"""


@query(
    "llm_dupspans",
    oracle=_GRAM_CTE
    + """
    , matches AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.i AS pa, b.i AS pb, b.i - a.i AS d
      FROM kept a JOIN kept b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, pa, pb,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                     ORDER BY pa) AS grp, d
      FROM matches
    )
    SELECT doc_a, doc_b,
           MIN(pa) AS start_a, MIN(pb) AS start_b,
           COUNT(*) + 7 AS len_tokens
    FROM runs GROUP BY doc_a, doc_b, d, grp
    HAVING COUNT(*) >= 2
    """,
)
def llm_dupspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-passage detection (the exact-substring half of
    training-data dedup, cf. Lee et al., 'Deduplicating Training Data
    Makes Language Models Better', ACL 2022): maximal shared token
    runs >= 9 tokens between document pairs, found as diagonal islands
    in 8-gram match space — consecutive matches on the same offset
    diagonal d = pos_b - pos_a collapse to one span via the classic
    gaps-and-islands grouping (pos - row_number).

    Scale shape: the only join is the 8-gram equi-join, and grams
    occurring more than {cap} times corpus-wide are dropped FIRST via
    a broadcast anti-join against the (tiny) hot-gram set — the
    boilerplate-gram guard that bounds join fanout at 100 TB the same
    way llm_contaminate caps benchmark grams. The islands window is
    partitioned per (pair, diagonal) — parallel everywhere.
    """
    return R.duplicate_spans(
        t(spark, sf_dir, "documents"),
        gram_n=_GRAM_N,
        hot_cap=_HOT_GRAM_CAP,
        min_tokens=9,
    )


llm_dupspans.__doc__ = llm_dupspans.__doc__.format(cap=_HOT_GRAM_CAP)


_COLLOC_MIN_SUPPORT = 30


@query(
    "llm_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tok
      FROM documents
      WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 2
    ), big AS (
      SELECT tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT tok, unnest(generate_series(1, len(tok) - 1)) AS i
            FROM toks)
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM big GROUP BY w1, w2
    ), uni AS (
      SELECT w1 AS w, COUNT(*) AS c FROM big GROUP BY w1
    ), tot AS (SELECT COUNT(*) AS n FROM big)
    SELECT w1, w2, c_ab,
           floor(CAST(n AS DOUBLE) * c_ab
                 / (CAST(ua.c AS DOUBLE) * ub.c) * 1e6) / 1e6 AS lift
    FROM bc JOIN uni ua ON ua.w = bc.w1
    JOIN uni ub ON ub.w = bc.w2
    CROSS JOIN tot
    WHERE c_ab >= {_COLLOC_MIN_SUPPORT}
    """,
)
def llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation / multi-word-expression detection: bigram lift
    n·c(ab) / (c(a)·c(b)) — the exponential of PMI, kept in its
    RATIONAL form so no libm log enters the hash (the monotone-
    equivalent trick BM25/tf-idf use). Bigrams above the support
    floor with lift >> 1 are phrases ('new york'); lift ≈ 1 means
    independent co-occurrence. Two hash aggs off one bigram explode
    + a broadcast unigram join (vocabulary-sized, Zipf-bounded) + a
    1-row total — no self-joins, nothing quadratic. First-position
    unigram counts are the denominator basis on both sides (exactly
    c(a)=count(w1=a), c(b)=count(w1=b)), so the oracle replays the
    identical rationals."""
    from flirt_consume_spark.operators.text import shingles, tokens

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("_tok")).filter(
        F.size("_tok") >= 2
    )
    big = toks.select(F.explode(shingles("_tok", 2)).alias("bg")).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c")).select(
        F.col("w1").alias("w"), "c"
    )
    tot = big.agg(F.count(F.lit(1)).alias("n"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("_ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("_cb"))
    out = (
        bc.filter(F.col("c_ab") >= _COLLOC_MIN_SUPPORT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
    )
    lift = (
        F.floor(
            F.col("n").cast("double")
            * F.col("c_ab")
            / (F.col("_ca").cast("double") * F.col("_cb"))
            * 1e6
        )
        / F.lit(1e6)
    )
    return out.select("w1", "w2", "c_ab", lift.alias("lift"))


_WINNOW_W = 4


@query(
    "llm_winnow",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
      FROM documents
      WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
    ), hashed AS (
      SELECT doc_id, i, md5(shingle) AS h
      FROM (SELECT doc_id, i,
                   tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS shingle
            FROM (SELECT doc_id, tok,
                         unnest(generate_series(1, len(tok) - 2)) AS i
                  FROM toks))
    ), wins AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS fp
      FROM hashed
    )
    SELECT doc_id, COUNT(DISTINCT fp) AS n_fp, MIN(fp) AS fp_min
    FROM wins GROUP BY doc_id
    """,
)
def llm_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003, the MOSS algorithm): the minimum gram hash in every
    sliding window of {w} positions. The winnowing guarantee: any
    shared substring of >= w + gram - 1 tokens yields at least one
    IDENTICAL selected fingerprint in both documents, while only
    ~2/(w+1) of positions are kept — the principled density/recall
    trade that plain min-hashing (llm_fingerprint) lacks.

    r12 rework (guide §2.4 "remove shuffles outright"): the sliding
    window min lives entirely INSIDE one document, so it is a
    row-local array expression — md5 per shingle via transform, then
    per position i the min over slice(i, w) — not a per-doc window
    over an exploded position stream (the pre-rework plan shuffled
    every (doc, position, hash) row into a per-doc sort, then
    re-aggregated; this plan never shuffles at all and
    count-distinct/min collapse to array_distinct/array_min in-row).
    ``fan_out`` floors the map stage's parallelism at the small end."""
    from flirt_consume_spark.operators.scale import fan_out
    from flirt_consume_spark.operators.text import shingles, tokens

    docs = t(spark, sf_dir, "documents")
    toks = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("_tok")
    ).filter(F.size("_tok") >= 3)
    hs = toks.select(
        "doc_id",
        F.transform(shingles("_tok", 3), lambda s: F.md5(s)).alias("_h"),
    )
    fps = hs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(_h)),"
            f" i -> array_min(slice(_h, i, {_WINNOW_W})))"
        ).alias("_fp"),
    )
    return fps.select(
        "doc_id",
        F.size(F.array_distinct("_fp")).cast("long").alias("n_fp"),
        F.array_min("_fp").alias("fp_min"),
    )


llm_winnow.__doc__ = llm_winnow.__doc__.format(w=_WINNOW_W)


@query(
    "emb_covariance",
    oracle="""
    WITH xs AS (
      SELECT vec_id, i, CAST(floor(embedding[i] * 1e6) AS BIGINT) AS xl
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ), moments AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(a.xl * b.xl) AS BIGINT) AS sxy
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), sums AS (
      SELECT i, CAST(SUM(xl) AS BIGINT) AS sx, COUNT(*) AS n
      FROM xs GROUP BY i
    )
    SELECT m.i, m.j,
           floor((CAST(m.sxy AS DOUBLE) / sa.n / 1e12
                  - (CAST(sa.sx AS DOUBLE) / sa.n / 1e6)
                    * (CAST(sb.sx AS DOUBLE) / sb.n / 1e6)) * 1e9) / 1e9
             AS cov
    FROM moments m
    JOIN sums sa ON sa.i = m.i
    JOIN sums sb ON sb.i = m.j
    """,
)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the embedding columns — the aggregation
    behind PCA / whitening / Mahalanobis pipelines — as ONE
    distributed pass: per vector, the upper-triangle products
    x_i·x_j are generated JVM-side (two chained posexplodes with a
    j >= i filter — no self-join, no UDF, and no per-position
    slice()/struct allocations: the earlier slice-based generator
    measured 3.6x-vs-linear at the 100x probe purely from GC
    pressure, same plan shape), then a 64·65/2-group hash agg folds
    them; cov_ij =
    E[x_i x_j] − E[x_i]E[x_j] by the moment identity, so no second
    centering pass over the data. All sums are exact 1e-6-unit
    integers; the output is a constant-size (dim²) table however many
    vectors stream through — exactly the shape that feeds a
    driver/BLAS eigensolve at any scale."""
    emb = t(spark, sf_dir, "embeddings")
    xs = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1e6) AS LONG))"
        ).alias("xl"),
    )
    pairs = (
        xs.select(F.posexplode("xl").alias("_ia", "xi"), F.col("xl"))
        .select("_ia", "xi", F.posexplode("xl").alias("_ib", "xj"))
        .filter(F.col("_ib") >= F.col("_ia"))
        .select(
            (F.col("_ia") + 1).alias("i"),
            (F.col("_ib") + 1).alias("j"),
            (F.col("xi") * F.col("xj")).alias("p"),
        )
    )
    moments = pairs.groupBy("i", "j").agg(F.sum("p").alias("sxy"))
    sums = (
        xs.select(F.posexplode("xl").alias("_i0", "xi"))
        .select((F.col("_i0") + 1).alias("i"), "xi")
        .groupBy("i")
        .agg(F.sum("xi").alias("sx"), F.count(F.lit(1)).alias("n"))
    )
    sa = sums.select(
        F.col("i"), F.col("sx").alias("_sxa"), F.col("n").alias("_na")
    )
    sb = sums.select(
        F.col("i").alias("j"), F.col("sx").alias("_sxb"), F.col("n").alias("_nb")
    )
    cov = (
        F.col("sxy").cast("double") / F.col("_na") / 1e12
        - (F.col("_sxa").cast("double") / F.col("_na") / 1e6)
        * (F.col("_sxb").cast("double") / F.col("_nb") / 1e6)
    )
    return (
        moments.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i", "j", (F.floor(cov * 1e9) / F.lit(1e9)).alias("cov")
        )
    )


_POWER_ITERS = 3


def _cov_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (mirrored) covariance matrix in long form, from the
    upper-triangle emb_covariance result."""
    upper = emb_covariance(spark, sf_dir)
    lower = upper.filter(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "cov"
    )
    return upper.unionByName(lower)


@query(
    "emb_power_iteration",
    oracle="""
    WITH xs AS (
      SELECT vec_id, i, CAST(floor(embedding[i] * 1e6) AS BIGINT) AS xl
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ), moments AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.xl * b.xl) AS BIGINT) AS sxy
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), sums AS (
      SELECT i, CAST(SUM(xl) AS BIGINT) AS sx, COUNT(*) AS n
      FROM xs GROUP BY i
    ), cov_u AS (
      SELECT m.i, m.j,
             floor((CAST(m.sxy AS DOUBLE) / sa.n / 1e12
                    - (CAST(sa.sx AS DOUBLE) / sa.n / 1e6)
                      * (CAST(sb.sx AS DOUBLE) / sb.n / 1e6)) * 1e9) / 1e9
               AS cov
      FROM moments m JOIN sums sa ON sa.i = m.i JOIN sums sb ON sb.i = m.j
    ), cov AS (
      SELECT i, j, cov FROM cov_u
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cov_u WHERE i <> j
    ), w1 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * 1e15) AS BIGINT)) AS DOUBLE)
               / 1e15 AS w
      FROM cov c GROUP BY c.i
    ), w2 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * w1.w * 1e18) AS BIGINT)) AS DOUBLE)
               / 1e18 AS w
      FROM cov c JOIN w1 ON w1.i = c.j GROUP BY c.i
    ), w3 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * w2.w * 1e18) AS BIGINT)) AS DOUBLE)
               / 1e18 AS w
      FROM cov c JOIN w2 ON w2.i = c.j GROUP BY c.i
    )
    SELECT i, floor(w / (SELECT MAX(abs(w)) FROM w3) * 1e9) / 1e9 AS v
    FROM w3
    """,
)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k} power-method iterations toward the top principal
    direction of the embedding covariance — an exactly-oracle-checked
    iterative eigensolve KERNEL (the PCA sibling of the
    exactly-checked k-means/PageRank family). Each iterate is one
    tiny (dim² ⋈ dim) equi-join + hash agg over the CONSTANT-size
    covariance table from emb_covariance — the data itself is scanned
    exactly once, however many iterations run. Convergence to the
    eigenvector is spectrum-dependent (rate (λ2/λ1)^k; the synthetic
    fixture is near-isotropic, so these iterations demonstrate and
    verify the kernel, not a converged eigenvector — production use
    raises the iteration count, at constant per-iteration cost).
    Numerical discipline that makes cross-engine exactness possible:
    every iterate is floored to the 1e-9 grid and normalized by the
    MAX-ABS component (a division — IEEE-exact) instead of the L2
    norm, whose sqrt-of-sum would accumulate order-dependent error;
    the max is a window over the 64-row iterate, coalesced to one
    partition. Σ over 64 products per row is the exact integer-unit
    sum."""
    mx = F.max(F.abs(F.col("w"))).over(Window.partitionBy())
    return _power_w(spark, sf_dir).select(
        "i", (F.floor(F.col("w") / mx * 1e9) / 1e9).alias("v")
    )


emb_power_iteration.__doc__ = emb_power_iteration.__doc__.format(
    k=_POWER_ITERS
)


def _power_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-normalized {_POWER_ITERS}-step power iterate (i, w), one row
    per dimension, coalesced to one partition — shared by
    emb_power_iteration (which emits the 1e-9-floored direction) and
    emb_pca_project (which needs the INTEGER 1e-9-grid coefficients so
    projection sums stay exact). Both normalize by its max-abs
    component, a window over that one partition."""
    cov = _cov_long(spark, sf_dir).localCheckpoint(eager=False)
    # Iterate WITHOUT intermediate normalization: |cov| <= ~1, so 3
    # un-normalized iterates stay well inside double range, and
    # skipping the per-step max-abs rescale removes two broadcast
    # jobs per iteration — ONE normalization at the end fixes the
    # scale. First iterate is C·1 = row sums (no join needed).
    w = cov.groupBy("i").agg(
        (F.sum(F.floor(F.col("cov") * 1e15).cast("long")) / F.lit(1e15))
        .alias("w")
    )
    for _ in range(_POWER_ITERS - 1):
        vr = w.select(F.col("i").alias("j"), F.col("w").alias("v"))
        w = (
            cov.join(F.broadcast(vr), "j")
            .groupBy("i")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("cov") * F.col("v") * 1e18).cast(
                            "long"
                        )
                    )
                    / F.lit(1e18)
                ).alias("w")
            )
        )
    return w.coalesce(1)


@query(
    "emb_pca_project",
    oracle="""
    WITH xs AS (
      SELECT vec_id, i, CAST(floor(embedding[i] * 1e6) AS BIGINT) AS xl
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ), moments AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.xl * b.xl) AS BIGINT) AS sxy
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), sums AS (
      SELECT i, CAST(SUM(xl) AS BIGINT) AS sx, COUNT(*) AS n
      FROM xs GROUP BY i
    ), cov_u AS (
      SELECT m.i, m.j,
             floor((CAST(m.sxy AS DOUBLE) / sa.n / 1e12
                    - (CAST(sa.sx AS DOUBLE) / sa.n / 1e6)
                      * (CAST(sb.sx AS DOUBLE) / sb.n / 1e6)) * 1e9) / 1e9
               AS cov
      FROM moments m JOIN sums sa ON sa.i = m.i JOIN sums sb ON sb.i = m.j
    ), cov AS (
      SELECT i, j, cov FROM cov_u
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cov_u WHERE i <> j
    ), w1 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * 1e15) AS BIGINT)) AS DOUBLE)
               / 1e15 AS w
      FROM cov c GROUP BY c.i
    ), w2 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * w1.w * 1e18) AS BIGINT)) AS DOUBLE)
               / 1e18 AS w
      FROM cov c JOIN w1 ON w1.i = c.j GROUP BY c.i
    ), w3 AS (
      SELECT c.i,
             CAST(SUM(CAST(floor(c.cov * w2.w * 1e18) AS BIGINT)) AS DOUBLE)
               / 1e18 AS w
      FROM cov c JOIN w2 ON w2.i = c.j GROUP BY c.i
    ), vl AS (
      SELECT i,
             CAST(floor(w / (SELECT MAX(abs(w)) FROM w3) * 1e9) AS BIGINT)
               AS vl
      FROM w3
    )
    SELECT x.vec_id, CAST(SUM(x.xl * v.vl) AS DOUBLE) / 1e15 AS score
    FROM xs x JOIN vl v USING (i)
    GROUP BY 1
    """,
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37: PCA projection — score every embedding against the
    power-iteration direction (the same iterate emb_power_iteration
    verifies), i.e. the dominant-component coordinate used for
    curriculum binning, coarse ANN partitioning, and outlier triage.

    The direction's coefficients are taken on the INTEGER 1e-9 grid
    (floor(w/max·1e9) as BIGINT), the vectors on the 1e-6 grid, so
    each score is one exact Σ xl·vl integer sum (≤ 64·5e15, far
    inside BIGINT) lifted to double by a single /1e15 — bit-identical
    on both engines, no order dependence. Scale: the covariance/
    iterate chain is constant-size (dim²) regardless of corpus; the
    projection itself is ONE narrow pass over the exploded vectors
    joined to a 64-row broadcast + a per-vector hash agg — the plan
    you'd want at 100 TB (data scanned once for cov, once for
    projection; nothing else is data-sized)."""
    mx = F.max(F.abs(F.col("w"))).over(Window.partitionBy())
    vl = _power_w(spark, sf_dir).select(
        "i", F.floor(F.col("w") / mx * 1e9).cast("long").alias("vl")
    )
    emb = t(spark, sf_dir, "embeddings")
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


# --- maximal marginal relevance selection --------------------------------

_MMR_K = 5
_MMR_SENTINEL = -(1 << 62)  # "no selected neighbor yet" max-sim floor


def _mmr_oracle(k: int) -> str:
    """Unrolled k-round greedy MMR in DuckDB SQL: round r picks
    argmax(2·rel − maxsim) (ties → lowest vec_id), then folds the
    winner's dot products into every survivor's running max-sim."""
    parts = [
        """
    WITH xs AS (
      SELECT vec_id, i, CAST(floor(embedding[i] * 1e6) AS BIGINT) AS xl
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ), q AS (
      SELECT i, xl FROM xs WHERE vec_id = 0
    ), rel AS (
      SELECT x.vec_id, CAST(SUM(x.xl * q.xl) AS BIGINT) AS rel
      FROM xs x JOIN q USING (i) WHERE x.vec_id <> 0 GROUP BY 1
    ), s0 AS (
      SELECT vec_id, rel,
             CAST(-4611686018427387904 AS BIGINT) AS ms
      FROM rel
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""
    , b{r} AS (
      SELECT vec_id, rel, ms FROM s{r - 1}
      ORDER BY 2 * rel - ms DESC, vec_id LIMIT 1
    ), d{r} AS (
      SELECT x.vec_id, CAST(SUM(x.xl * s.xl) AS BIGINT) AS dot
      FROM xs x JOIN xs s
        ON s.i = x.i AND s.vec_id = (SELECT vec_id FROM b{r})
      GROUP BY 1
    ), s{r} AS (
      SELECT p.vec_id, p.rel, GREATEST(p.ms, d{r}.dot) AS ms
      FROM s{r - 1} p JOIN d{r} USING (vec_id)
      WHERE p.vec_id <> (SELECT vec_id FROM b{r})
    )"""
        )
    tail = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS sel_rank, vec_id, rel, ms FROM b{r}"
        for r in range(1, k + 1)
    )
    return "".join(parts) + "\n    " + tail


@query("emb_mmr", oracle=_mmr_oracle(_MMR_K))
def emb_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L39: Maximal Marginal Relevance (Carbonell & Goldstein 1998) —
    greedy diversified top-k: each round selects the vector
    maximizing 2·relevance − max-similarity-to-already-selected
    (the λ=2/3 MMR weighting in integer form), the standard
    anti-redundancy selection for retrieval results and diverse
    data subset curation.

    Exactness: relevance and every pairwise similarity are raw
    quantized dot products (1e-12-unit BIGINTs — monotone in cosine
    for fixed norms, declared as the similarity kernel), the
    running max-sim starts at an explicit −2⁶² sentinel (both
    engines; GREATEST over NULL diverges between engines so no NULL
    init), and the objective 2·rel − ms is pure integer arithmetic
    with a vec_id tie-break — every round's argmax is deterministic,
    so the k-row selection hash-matches the unrolled-CTE oracle.

    Scale: ZERO shuffles (r12 rework, guide §2.4). One narrow pass
    builds the state frame (vec_id, rel, ms, quantized vector):
    relevance is a row-local zip_with/aggregate dot product against
    the query vector embedded as a 64-element literal (one O(dim)
    driver probe fetches it — the llm_knn broadcast-query idea taken
    to its endpoint). Each of the k rounds is then ONE TakeOrdered
    argmax (per-partition top-1 + driver merge of num_partitions
    rows) whose collected row already carries the winner's quantized
    vector; folding its dot products into every survivor's running
    max-sim is a row-local expression layer over the checkpointed
    state — no join, no hash agg, no exchange anywhere in the loop
    (the pre-rework plan paid a 64-row broadcast join + full-corpus
    hash agg + state equi-join + eager checkpoint per round). State
    never exceeds (vec_id, rel, ms, dim longs) — data-sized, narrow,
    embarrassingly parallel at any corpus size."""
    emb = t(spark, sf_dir, "embeddings")
    quant = F.expr("transform(embedding, x -> CAST(floor(x * 1e6) AS LONG))")
    base = emb.select("vec_id", quant.alias("_xq"))

    def dot_against(vec: list) -> F.Column:
        # One expr string, not 64 F.lit() calls: each Column op is a
        # py4j round trip, and k rounds of per-component literals made
        # the driver-side expression build a measurable cost.
        lits = ", ".join(f"{int(v)}L" for v in vec)
        return F.expr(
            f"aggregate(zip_with(_xq, array({lits}), (a, b) -> a * b),"
            f" 0L, (acc, x) -> acc + x)"
        )

    qrow = base.filter(F.col("vec_id") == 0).select("_xq").collect()
    if not qrow or qrow[0]["_xq"] is None:
        # No query vector (absent row, or NULL embedding on a
        # degenerate mirror): nothing to rank — the pre-rework
        # posexplode shape produced zero rel rows here.
        return spark.createDataFrame(
            [], "sel_rank bigint, vec_id bigint, rel bigint, ms bigint"
        )
    qvec = list(qrow[0]["_xq"])
    state = (
        # NULL-embedding docs are excluded, matching the pre-rework
        # inner posexplode join (NULL explodes to zero rows).
        base.filter((F.col("vec_id") != 0) & F.col("_xq").isNotNull())
        .select(
            "vec_id",
            dot_against(qvec).alias("rel"),
            F.lit(_MMR_SENTINEL).cast("bigint").alias("ms"),
            "_xq",
        )
        # lazy: the round-1 argmax materializes the blocks; an eager
        # checkpoint would spend a separate job on the same work.
        .localCheckpoint(eager=False)
    )
    picks = []
    for rank in range(1, _MMR_K + 1):
        top = (
            state.orderBy(
                (2 * F.col("rel") - F.col("ms")).desc(), "vec_id"
            )
            .limit(1)
            .collect()
        )
        if not top:  # corpus smaller than k: emit what exists
            break
        best = top[0]
        picks.append((rank, best["vec_id"], best["rel"], best["ms"]))
        state = state.filter(F.col("vec_id") != best["vec_id"]).withColumn(
            "ms", F.greatest(F.col("ms"), dot_against(list(best["_xq"])))
        )
    return spark.createDataFrame(
        picks, "sel_rank bigint, vec_id bigint, rel bigint, ms bigint"
    )
