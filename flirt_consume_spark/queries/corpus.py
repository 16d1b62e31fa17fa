"""Corpus-preparation operators: context-window chunking, TF-IDF
term extraction, benchmark-contamination detection, and per-source
quota sampling over the ``documents`` table.

Round-4 additions to the training-data pipeline surface (the
chunk → score → decontaminate → balance stages that sit between
dedup and packing in a real 100-TB pretraining flow). Same discipline
as queries/pipeline.py: built-in column expressions only (no Python
in the hot path), md5-deterministic ordering instead of RNG, rational
arithmetic + floor-to-unit instead of transcendental functions so
every key hash-matches its DuckDB oracle bit-for-bit.

Registered last on purpose: the first 50 registry slots are reserved
this round for keys awaiting their first external verification row
(see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import text as X
from flirt_consume_spark.queries.base import query, t

# Context-window chunking parameters: 64-token chunks, stride 48
# (16-token overlap) — the shape used to cut documents into
# training-context-sized pieces with cross-boundary continuity.
_CHUNK = 64
_STRIDE = 48


@query(
    "llm_chunk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
      FROM documents
    ), ch AS (
      SELECT doc_id, tok,
             unnest(generate_series(0, (len(tok) - 1) // {_STRIDE})) AS k
      FROM toks
    )
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           CAST(len(tok[k * {_STRIDE} + 1 : k * {_STRIDE} + {_CHUNK}]) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(
             tok[k * {_STRIDE} + 1 : k * {_STRIDE} + {_CHUNK}], ' '))
             AS chunk_md5
    FROM ch
    """,
)
def llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document's token stream
    into 64-token chunks every 48 tokens (16-token overlap), emitting
    chunk index, size, and content md5. Fully NARROW — explode of a
    per-row sequence + array slices, no shuffle at any size: each
    document chunks independently, which is exactly why this scales
    to 100 TB embarrassingly. Chunk content is verified by md5 of the
    space-joined slice (both engines slice 1-based and clamp at the
    array end)."""
    docs = t(spark, sf_dir, "documents")
    step = docs.select("doc_id", X.tokens("text").alias("_tok"))
    ch = step.select(
        "doc_id",
        "_tok",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.size("_tok") - 1) / _STRIDE).cast("int")
            )
        ).alias("k"),
    )
    piece = F.slice(F.col("_tok"), F.col("k") * _STRIDE + 1, _CHUNK)
    return ch.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


@query(
    "llm_tfidf",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT doc_id, token, tf, df,
             floor(tf * (n + 1) / (df + 1) * 1e6) / 1e6 AS score
      FROM tf JOIN df USING (token), n
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, score
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token
      ) AS rn FROM scored
    ) WHERE rn <= 3
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. The idf is
    the RATIONAL form (n+1)/(df+1) rather than its logarithm: ln() is
    only 1-ulp-accurate and differs across libm implementations, while
    integer products and one IEEE division are bit-identical in both
    engines — and since ln is monotone, the top-k under the rational
    score is the same top-k as under log-idf. Two hash aggregations
    (doc-term tf, term df) + one shuffle join + a per-doc window; the
    map-side partial agg absorbs the Zipf head before either
    shuffle."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )
    # tf feeds two legs (the score join and the df aggregate below).
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df = COUNT(DISTINCT doc_id) per token, but tf's rows ARE the
    # distinct (doc_id, token) pairs — so a plain COUNT over the
    # already-aggregated frame is the same number without a second
    # tokenize/explode pass over the corpus or a countDistinct expand
    # (guide §2.3 "aggregate before you shuffle": the Zipf head is
    # already collapsed to one row per document here).
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Every document tokenizes to >= 1 token (split never yields an
    # empty array), so corpus size for the idf is a plain count over
    # the base table — not a countDistinct over the exploded token
    # stream, which would shuffle the whole stream to learn one number.
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.floor(
                F.col("tf") * (F.col("n") + 1) / (F.col("df") + 1) * 1e6
            )
            / F.lit(1e6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score",
        )
    )


@query(
    "llm_contaminate",
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
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    ), train AS (
      SELECT * FROM sh WHERE doc_id % 97 <> 0
    ), hits AS (
      SELECT t.doc_id, COUNT(*) AS n_hits
      FROM train t JOIN bench b ON t.shingle = b.shingle
      GROUP BY 1
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM train GROUP BY 1
    )
    SELECT h.doc_id, CAST(h.n_hits AS BIGINT) AS n_hits,
           CAST(s.n_sh AS BIGINT) AS n_shingles,
           floor(h.n_hits / s.n_sh * 1e6) / 1e6 AS overlap_frac
    FROM hits h JOIN sizes s USING (doc_id)
    """,
)
def llm_contaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: docs with doc_id % 97 == 0
    stand in for a held-out eval set; every remaining (training) doc
    is scored by how many of its distinct word-3-grams appear anywhere
    in the benchmark set. The benchmark gram table is tiny (~1% of
    corpus grams) and is BROADCAST, so the training shingle stream
    never shuffles for the probe — the right shape at 100 TB, where
    the eval suites are always millions of times smaller than the
    corpus. Emits only contaminated docs (n_hits > 0 by the inner
    join)."""
    from flirt_consume_spark.operators.dedup import shingle_table

    docs = t(spark, sf_dir, "documents")
    sh = shingle_table(docs, n=3)
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    train = sh.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.col("n_sh").cast("bigint").alias("n_shingles"),
        (F.floor(F.col("n_hits") / F.col("n_sh") * 1e6) / F.lit(1e6)).alias(
            "overlap_frac"
        ),
    )


@query(
    "join_bloom",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(l_extendedprice * 1e2) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    )
    GROUP BY l_returnflag
    """,
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join through an explicit broadcast-bloom prefilter
    (operators/scale.bloom_semi_join): the selective order-key set is
    folded into a KB-scale bitmap, the lineitem side is pre-filtered
    by narrow broadcast bit tests, and only surviving rows reach the
    exact semi join — so the fact table never shuffles rows that
    cannot match. The oracle is the PLAIN semi join: bloom false
    positives are removed by the final exact join, making the
    prefilter invisible to results and fully hash-checkable."""
    from flirt_consume_spark.operators.scale import bloom_semi_join

    li = t(spark, sf_dir, "lineitem")
    sel = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    hit = bloom_semi_join(li, sel, "l_orderkey", "o_orderkey")
    return hit.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("l_extendedprice") * 1e2).cast("long"))
        .cast("bigint")
        .alias("price_cents"),
    )


# DuckDB replica of operators/scale.zorder_value's 16-bit interleave:
# a sum of 32 integer terms over the quantized coordinates.
_Z_TERMS = " + ".join(
    f"(((xq >> {b}) & 1) * {1 << (2 * b)}) + "
    f"(((yq >> {b}) & 1) * {1 << (2 * b + 1)})"
    for b in range(16)
)


@query(
    "sink_zorder",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(CAST(o_custkey AS DOUBLE)) AS xmin,
             MAX(CAST(o_custkey AS DOUBLE)) AS xmax,
             MIN(o_totalprice) AS ymin, MAX(o_totalprice) AS ymax
      FROM orders
    ), q AS (
      SELECT o_orderkey,
             CASE WHEN xmax - xmin = 0 THEN 0
                  ELSE CAST(floor((CAST(o_custkey AS DOUBLE) - xmin)
                                  / (xmax - xmin) * 65535.0) AS BIGINT)
             END AS xq,
             CASE WHEN ymax - ymin = 0 THEN 0
                  ELSE CAST(floor((o_totalprice - ymin)
                                  / (ymax - ymin) * 65535.0) AS BIGINT)
             END AS yq
      FROM orders, bounds
    ), z AS (
      SELECT o_orderkey, ({_Z_TERMS}) AS zval FROM q
    )
    SELECT o_orderkey, zval, zval // {1 << 26} AS zbucket FROM z
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order sink layout: cluster orders along the Morton curve of
    (o_custkey, o_totalprice) so a written table's parquet min/max
    footer stats prune BOX predicates on both columns — the
    data-skipping layout for the two-filter queries partitioning can't
    serve (partition keys cover one dimension; the Z-curve covers
    two). The key materializes each row's curve position and 64-way
    file bucket; the physical effect (files overlapping a box query
    drop ~4x vs natural order) is asserted on real written files in
    tests/test_scale.py. One pass + one tiny broadcast bounds agg;
    range-partition + local sort on the curve value — no global
    sort."""
    from flirt_consume_spark.operators.scale import zorder_layout

    orders = t(spark, sf_dir, "orders")
    laid = zorder_layout(orders, "o_custkey", "o_totalprice", n_files=16)
    return laid.select(
        "o_orderkey",
        F.col("_z").alias("zval"),
        F.expr(f"_z DIV {1 << 26}").alias("zbucket"),
    )


@query(
    "quota_per_source",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 100
    """,
)
def quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling: cap each language (standing in for
    crawl domain / source) at 100 documents, chosen by md5(doc_id)
    priority — a deterministic uniform draw that is stable under
    re-runs and insertions, unlike rand(). The row_number window
    filtered to ≤ 100 is planned with a partial ``WindowGroupLimit``
    on the map side of the per-source exchange, so with ~10 sources
    each reducer receives at most 100 · num_partitions rows, never
    the corpus."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= 100)
        .select("doc_id", "lang", F.col("_rn").cast("bigint").alias("rn"))
    )
